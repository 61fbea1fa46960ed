"""Build file of the benchmark's JVM package.

Compiles the repository's main Scala sources, then the benchmark driver in
``perfbench/jvm/src`` against them, with the Scala compiler that ships in
the Spark jar directory (no sbt, no network). Each output directory is
named by a hash of its sources, so an unchanged tree is never rebuilt.

    python3 perfbench/build.py      # prints the run classpath
"""

import hashlib
import os
import re
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SCALA_VERSION = "2.13.17"


def spark_jars():
    """The jar directory the repository builds against: $SPARK_HOME/jars,
    else the ``unmanagedBase`` that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def _sources(*dirs):
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def _hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _compile(sources, classpath, out, log):
    if (out / ".done").exists():
        return
    out.mkdir(parents=True, exist_ok=True)
    jars = spark_jars()
    compiler = ":".join(str(jars / f"scala-{m}-{SCALA_VERSION}.jar")
                        for m in ("compiler", "library", "reflect"))
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(out), f"@{argfile}"]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: scalac failed ({rc}), see {log}")
    (out / ".done").write_text("ok\n")


def build():
    """Compile what is stale and return the classpath for a run."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no src/main/scala next to the benchmark")
    jars = ":".join(str(p) for p in sorted(spark_jars().glob("*.jar")))
    main_src = _sources(ROOT / "src" / "main" / "scala")
    bench_src = _sources(ROOT / "perfbench" / "jvm" / "src")
    main_out = BUILD / f"main-{_hash(main_src)}"
    bench_out = BUILD / f"bench-{_hash(main_src + bench_src)}"
    BUILD.mkdir(parents=True, exist_ok=True)
    _compile(main_src, jars, main_out, BUILD / "main-build.log")
    _compile(bench_src, f"{main_out}:{jars}", bench_out, BUILD / "bench-build.log")
    return f"{bench_out}:{main_out}:{jars}"


if __name__ == "__main__":
    print(build())
