#!/usr/bin/env python3
"""Paired A/B runner: parent tree against change tree, one row per workload
and end-to-end metric.

  python3 perfbench/ab.py --parent ../parent --change . \
      --workload etl_graph --workload dedup_stats

Each tree is a checkout of the repository holding this benchmark. It runs
10 pairs per workload: pair i runs both trees on seed 1000 + i for
BENCHMARK.json's run_seconds, the parent first on even i and the change
first on odd i. For every end-to-end
metric in BENCHMARK.json it reports each side's median and quartiles, the
change's wins, losses and ties (a tie counts for neither side), and a
verdict:
  unresolved  fewer than 10 pairs ran clean, or the parent's own quartile
              spread is wider than the bound, unless every change run
              reads better than every parent run;
  regression  the change's median is worse than the parent's by more
              than the bound;
  gain        the change wins at least 9 of 10 pairs and the medians
              differ by more than the parent's interquartile range;
  no change   none of the above.
Every pair must also produce the same output digest for every query on
both sides; a differing digest or a failed run is reported as such.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

GAIN_WIN_RATE = 0.9
MIN_PAIRS = 10
SEED0 = 1000


def run_side(tree, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    digests = {}
    record = os.path.join(tree, ".bench_build", "perfbench", "last_record.json")
    if result is not None and os.path.exists(record):
        with open(record) as f:
            digests = json.load(f).get("output_digests", {})
    return p.returncode, result, digests


def verdict(metric, parent, change):
    bound, better = metric["bound"], metric["better"]
    q1, pm, q3 = stats.quartiles(parent)
    _, cm, _ = stats.quartiles(change)
    wins, losses, ties, rate = stats.win_rate(parent, change, better)
    worse = (cm - pm) if better == "lower" else (pm - cm)
    all_better = (max(change) < min(parent) if better == "lower"
                  else min(change) > max(parent))
    if pm and worse / abs(pm) > bound:
        v = "regression"
    elif len(parent) < MIN_PAIRS or (stats.spread(parent) > bound
                                     and not all_better):
        v = "unresolved"
    elif rate >= GAIN_WIN_RATE and abs(cm - pm) > (q3 - q1):
        v = "gain"
    else:
        v = "no change"
    return {"parent": [q1, pm, q3], "change": list(stats.quartiles(change)),
            "wins": wins, "losses": losses, "ties": ties, "win_rate": rate,
            "verdict": v}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    rows, problems = [], []
    for w in args.workload:
        samples = {"parent": {}, "change": {}}
        for i in range(MIN_PAIRS):
            seed = SEED0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            ok, digests = {}, {}
            for side in order:
                rc, result, digests[side] = run_side(getattr(args, side), w,
                                                     seed, seconds)
                print(f"[ab] {w} pair {i} seed {seed} {side} exit {rc}",
                      file=sys.stderr, flush=True)
                if rc != 0 or result is None or not result.get("correct"):
                    problems.append(f"{w} seed {seed}: {side} run failed "
                                    f"(exit {rc})")
                else:
                    ok[side] = result["metrics"]
            if len(ok) == 2:
                for side, got in ok.items():
                    for m in metrics:
                        samples[side].setdefault(m["name"], []).append(
                            got[m["name"]]["value"])
                for q in sorted(set(digests["parent"]) | set(digests["change"])):
                    if digests["parent"].get(q) != digests["change"].get(q):
                        problems.append(f"{w} seed {seed}: output of {q} "
                                        "differs")
        for m in metrics:
            a = samples["parent"].get(m["name"], [])
            b = samples["change"].get(m["name"], [])
            if not a:
                continue
            rows.append(dict(workload=w, metric=m["name"], unit=m["unit"],
                             bound=m["bound"], pairs=len(a),
                             **verdict(m, a, b)))
    print(f"{'workload':<12} {'metric':<14} {'parent q1/med/q3':<30} "
          f"{'change q1/med/q3':<30} {'W-L-T':<8} verdict")
    for r in rows:
        fmt = lambda t: "/".join(f"{x:.4g}" for x in t)  # noqa: E731
        print(f"{r['workload']:<12} {r['metric']:<14} "
              f"{fmt(r['parent']):<30} {fmt(r['change']):<30} "
              f"{r['wins']}-{r['losses']}-{r['ties']:<4} {r['verdict']}")
    for p in problems:
        print("PROBLEM " + p)
    print(json.dumps({"rows": rows, "problems": problems}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
