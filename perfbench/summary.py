#!/usr/bin/env python3
"""Summarise the run records in .bench_build/perfbench/records.

    python3 perfbench/summary.py [--since YYYYmmddTHHMMSS]

Per workload and end-to-end metric: the sample count, median, quartile
spread as a share of the median, and the highest percentile with at least
ten samples beyond it (none below eleven samples). Per workload: the
control job's first and last time, so box drift shows.
"""

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--since", default="")
    a = ap.parse_args(argv)
    runs = defaultdict(list)
    for f in sorted((build.BUILD / "records").glob("*-trace0-*.json"),
                    key=lambda p: p.stem.rsplit("-", 1)[1]):
        if f.stem.rsplit("-", 1)[1] >= a.since:
            r = json.loads(f.read_text())
            runs[r["workload"]].append(r)
    for workload, recs in sorted(runs.items()):
        failed = sum(r["failed"] for r in recs)
        attempted = sum(r["attempted"] for r in recs)
        controls = [s["control_s"] for r in recs for s in r["samples"]]
        print(f"{workload}: runs={len(recs)} attempted={attempted} failed={failed} "
              + (f"control first={controls[0]:.3f}s last={controls[-1]:.3f}s" if controls else ""))
        for metric, unit in run.END_TO_END.items():
            per_run = [r["metrics"][metric]["value"] for r in recs if r["metrics"]]
            if len(per_run) < 2:
                continue
            q1, med, q3 = statistics.quantiles(per_run, n=4)
            samples = [s[metric] for r in recs for s in r["samples"]]
            t = run.tail(samples)
            tail = f"p{t['percentile']}={t['value']:.4g}" if t else "tail=none"
            print(f"  {metric:12s} median={med:.4g} {unit} spread={(q3 - q1) / med:.3f} "
                  f"n={len(samples)} {tail}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
