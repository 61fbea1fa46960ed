#!/usr/bin/env python3
"""Alternating cold A/B pairs of the CIND benchmark between two revisions.

    python3 tools/perf_pairs.py REV_A REV_B --workload hub_lines --seed 17 --pairs 10

Checks out each revision into a temporary ``git worktree`` and runs
``perfbench/run.py --trace 0`` there, one run per side per pair, swapping
which side runs first on every pair (A first on even pairs, B first on odd
ones). Each run builds its own checkout, so both sides are measured with the
same run length and protocol. Prints every pair's five end-to-end metrics,
each side's median and quartiles, and for each metric the fraction of pairs
B wins (lower is better; ties count for neither side), the median difference
B - A and A's quartile spread: the pairwise protocol of the choosing-metrics
guide (a gain holds when B wins at least nine tenths of the pairs and the
medians differ by more than A's quartile spread). The worktrees are removed
at the end; ``perfbench/`` is only read.
"""

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
METRICS = ("wall_s", "setup_s", "cpu_s", "shuffle_mb", "peak_rss_mb")


def git(*args):
    proc = subprocess.run(["git", "-C", str(ROOT), *args], capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"git {' '.join(args)} failed: {proc.stderr.strip()}")
    return proc.stdout.strip()


def run_side(tree, workload, seed, seconds):
    """One benchmark run in `tree`: {metric: median} or None when incorrect."""
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        return None
    if proc.returncode != 0 or not result.get("correct"):
        return None
    return {m: result["metrics"][m]["value"] for m in METRICS}


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs):
    """Per metric: each side's median and quartiles, B's win fraction, the
    median difference and whether the gain criterion holds."""
    out = {}
    for m in METRICS:
        a = [p["A"][m] for p in pairs]
        b = [p["B"][m] for p in pairs]
        a_q1, a_q3 = quartiles(a)
        b_q1, b_q3 = quartiles(b)
        wins = sum(1 for x, y in zip(a, b) if y < x)
        diff = statistics.median(b) - statistics.median(a)
        out[m] = {"A_median": statistics.median(a), "A_q1": a_q1, "A_q3": a_q3,
                  "B_median": statistics.median(b), "B_q1": b_q1, "B_q3": b_q3,
                  "B_win_frac": wins / len(pairs), "median_diff": diff,
                  "A_spread": a_q3 - a_q1,
                  "B_gain_holds": wins >= 0.9 * len(pairs) and -diff > a_q3 - a_q1}
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30,
                    help="run length passed to perfbench/run.py (default 30)")
    ap.add_argument("--workdir", help="where the worktrees go (default: a new temp dir)")
    ap.add_argument("--json", help="also write the pairs and the summary here")
    a = ap.parse_args(argv)

    shas = {side: git("rev-parse", "--verify", f"{rev}^{{commit}}")
            for side, rev in (("A", a.rev_a), ("B", a.rev_b))}
    base = Path(a.workdir or tempfile.mkdtemp(prefix="perf_pairs-")).resolve()
    base.mkdir(parents=True, exist_ok=True)
    trees = {side: base / f"side-{side}" for side in shas}
    try:
        for side, tree in trees.items():
            git("worktree", "add", "--detach", str(tree), shas[side])
        print(f"A = {a.rev_a} ({shas['A'][:10]})  B = {a.rev_b} ({shas['B'][:10]})  "
              f"workload={a.workload} seed={a.seed} pairs={a.pairs}", flush=True)
        print("pair first " + " ".join(f"{m:>23}" for m in METRICS) + "   (A / B)", flush=True)
        pairs, failed = [], 0
        for i in range(a.pairs):
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            got = {side: run_side(trees[side], a.workload, a.seed, a.seconds) for side in order}
            if None in got.values():
                failed += 1
                print(f"{i:>4} {order[0]:>5}  failed: " +
                      ", ".join(s for s in order if got[s] is None), flush=True)
                continue
            pairs.append({"pair": i, "first": order[0], **got})
            print(f"{i:>4} {order[0]:>5} " + " ".join(
                f"{got['A'][m]:>11.2f} / {got['B'][m]:<9.2f}" for m in METRICS), flush=True)
        summary = summarize(pairs) if pairs else {}
        print(f"\n{len(pairs)} pairs, {failed} failed")
        for m, s in summary.items():
            print(f"{m:>12}: A {s['A_median']:.2f} [{s['A_q1']:.2f}, {s['A_q3']:.2f}]  "
                  f"B {s['B_median']:.2f} [{s['B_q1']:.2f}, {s['B_q3']:.2f}]  "
                  f"B wins {s['B_win_frac']:.0%}  B-A {s['median_diff']:+.2f}  "
                  f"A spread {s['A_spread']:.2f}  gain holds: {s['B_gain_holds']}")
        if a.json:
            Path(a.json).write_text(json.dumps(
                {"A": shas["A"], "B": shas["B"], "workload": a.workload, "seed": a.seed,
                 "pairs": pairs, "failed": failed, "summary": summary}, indent=1))
        return 0 if failed == 0 else 1
    finally:
        for tree in trees.values():
            if tree.exists():
                subprocess.run(["git", "-C", str(ROOT), "worktree", "remove", "--force",
                                str(tree)], capture_output=True)
        git("worktree", "prune")
        if not a.workdir:
            shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
