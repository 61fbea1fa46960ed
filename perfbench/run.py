#!/usr/bin/env python3
"""CIND discovery benchmark: cold command-line discoveries on generated RDF.

    python3 perfbench/run.py --workload hub_lines --seed 1 --seconds 30 --trace 0

Each sample is one cold JVM that reads an N-Triples file, discovers its CINDs
and writes the sorted CIND text, as ``graft.Main`` does, then times a fixed
control job (box speed). Samples run one after another while fewer than
``--seconds`` have passed, at least two; the run reports their medians. The
input is generated from ``--seed`` and its expected output computed with
DuckDB once per (workload, seed), outside the timed region; every output is
checked.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` replaces the
samples by one traced JVM that times each layer and reports the per-layer
metrics. Every run leaves a JSON record, spans included, in
``.bench_build/perfbench/records``. The last line of standard output is the
result as JSON. See NOTES.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# workload -> input shape; both run the default count-match CLI path
WORKLOADS = {"hub_lines": "hub", "narrow_lines": "narrow"}
HEAP = "2g"
MIN_SAMPLES = 2
BUDGET_S = 170  # a run, after the build, must end within this

END_TO_END = {"wall_s": "s", "setup_s": "s", "cpu_s": "s", "shuffle_mb": "MB",
              "peak_rss_mb": "MB"}


def layer_unit(name):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("ratio", "ratio"), ("frac", "ratio"),
                         ("yield", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


# as build.sbt's javaOptions: Spark outside spark-submit on JDK 17
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def cores():
    return len(os.sched_getaffinity(0))


def prepare(workload, seed, classpath):
    """Input file and expected output digest, cached per seed."""
    shape = WORKLOADS[workload]
    data = build.BUILD / "data" / f"{shape}-{gen.SIZES[shape]}-s{seed}"
    triples_nt = data / "triples.nt"
    expected = data / "expected.json"
    if expected.exists():
        return triples_nt, json.loads(expected.read_text())
    data.mkdir(parents=True, exist_ok=True)
    triples = gen.GENERATORS[shape](seed, gen.SIZES[shape])
    triples_nt.write_bytes(gen.to_ntriples(triples))
    sql = json.loads(oracle_sql(classpath).read_text())
    lines = oracle.expected_lines(sql, triples, spill_dir=data / "duckdb.tmp")
    want = {"digest": oracle.digest(lines), "cinds": len(lines), "triples": len(triples)}
    expected.write_text(json.dumps(want))
    return triples_nt, want


def oracle_sql(classpath):
    """The repository's oracle SQL, dumped once per build of the driver."""
    path = Path(classpath.split(":")[0]) / "oracle-sql.json"
    if not path.exists():
        rc = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={path.parent}",
                             "-cp", classpath,
                             "perfbench.BenchDriver", "oracle-sql", str(path)],
                            stdout=subprocess.DEVNULL).returncode
        if rc != 0:
            raise SystemExit("perfbench: could not dump the oracle SQL")
    return path


def launch(mode, classpath, workdir, tag, input_nt, timeout):
    """One cold JVM. Returns (result dict or None, output dir)."""
    tmp = workdir / "tmp"
    tmp.mkdir(exist_ok=True)
    result, out_dir = workdir / f"{tag}.json", workdir / f"{tag}-cinds"
    n = cores()
    spawn_ms = int(time.time() * 1000)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.BenchDriver", mode, str(spawn_ms), str(result),
            "--", "--master", f"local[{n}]", "--support", str(gen.SUPPORT),
            "--output", str(out_dir), str(input_nt)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
    with open(workdir / f"{tag}.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=workdir)
        try:
            rc = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None, out_dir
    if rc != 0 or not result.exists():
        return None, out_dir
    return json.loads(result.read_text()), out_dir


def output_ok(out_dir, want):
    parts = sorted(out_dir.glob("part-*"))
    lines = [line for p in parts for line in p.read_text().splitlines()]
    return len(lines) == want["cinds"] and oracle.digest(lines) == want["digest"]


def tail(values):
    """Highest percentile with at least ten samples beyond it, or None."""
    n = len(values)
    if n < 11:
        return None
    return {"percentile": round(100.0 * (n - 10) / n, 1), "value": sorted(values)[n - 11]}


def untraced_reference(workload):
    """Median wall_s of this checkout's earlier untraced runs of the workload."""
    walls = []
    for f in sorted((build.BUILD / "records").glob(f"{workload}-s*-trace0-*.json")):
        walls += [s["wall_s"] for s in json.loads(f.read_text())["samples"]]
    return statistics.median(walls) if walls else None


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath = build.build()
    started = time.monotonic()
    triples_nt, want = prepare(a.workload, a.seed, classpath)
    workdir = build.BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)

    def left():
        return BUDGET_S - (time.monotonic() - started)

    attempted, failed = 0, 0

    def checked(mode, tag):
        nonlocal attempted, failed
        r, out_dir = launch(mode, classpath, workdir, tag, triples_nt, left())
        attempted += 1
        if r is None or not output_ok(out_dir, want):
            failed, r = failed + 1, None
        shutil.rmtree(out_dir, ignore_errors=True)
        return r

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores(),
              "input_triples": want["triples"], "expected_cinds": want["cinds"]}

    if a.trace:
        traced = checked("trace", "traced")
        metrics = {}
        if traced is not None:
            layer = dict(traced["metrics"])
            layer["control.wall_s"] = traced["control_s"]
            layer["failed_frac"] = failed / attempted
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
            untraced = untraced_reference(a.workload)
            record.update(spans=traced["spans"], traced_s=traced["traced_s"],
                          control_s=traced["control_s"], untraced_wall_s=untraced,
                          tracing_overhead_frac=(traced["traced_s"] / untraced - 1
                                                 if untraced else None))
    else:
        samples, last = [], 0.0
        t0 = time.monotonic()
        while attempted < MIN_SAMPLES or (time.monotonic() - t0 < a.seconds
                                          and left() > 1.5 * last):
            s0 = time.monotonic()
            r = checked("discover", f"sample{attempted}")
            last = time.monotonic() - s0
            if r is not None:
                samples.append(r)
        metrics = {k: {"value": statistics.median(s[k] for s in samples), "unit": u}
                   for k, u in END_TO_END.items()} if samples else {}
        record.update(samples=samples, wall_s_tail=tail([s["wall_s"] for s in samples]))
    record.update(attempted=attempted, failed=failed, metrics=metrics)

    records = build.BUILD / "records"
    records.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (records / f"{a.workload}-s{a.seed}-trace{a.trace}-{stamp}.json").write_text(
        json.dumps(record, indent=1))
    if failed == 0:
        shutil.rmtree(workdir, ignore_errors=True)

    print(f"perfbench {a.workload} seed={a.seed} attempted={attempted} failed={failed} "
          f"input_triples={want['triples']}")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
