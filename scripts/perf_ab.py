#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 scripts/perf_ab.py BASE_DIR CHANGE_DIR --workload bulk_skewed --seeds 2-11 \
        --claim write_p50_s

Runs `perfbench/run.py --trace 0` of each checkout once per seed, at the
`run_seconds` that BASE_DIR/BENCHMARK.json sets, the base first on even
seeds and the change first on odd ones, then prints
each end-to-end metric's median per side (and the base's interquartile
range), the pairs the change won, a verdict, and every run whose result
has `correct` false or `failed` > 0. The metric names, directions and
bounds come from the same file, which the script only reads.

Verdicts: the `--claim` metric is "claim met" when the change won at
least 9 in 10 pairs and its median moved the better way by more than
the base's interquartile range. Every other metric is "unresolved" when
the base's spread (interquartile range / median) is wider than the
metric's bound, unless every change run reads better than every base
run; else "within bound" when the change median is no worse than the
base median by more than the bound (relative), else "WORSE".
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True).stdout.strip()
    try:
        return json.loads(out.splitlines()[-1])
    except (IndexError, ValueError):
        return {"correct": False, "failed": -1, "metrics": {}}


def verdict(claim, bound, base, iqr, gain, wins, n, all_better):
    """`gain` is the change median's move the better way; `wins` of `n`
    pairs; `all_better` when every change run beats every base run."""
    need = math.ceil(0.9 * n)
    if claim:
        ok = wins >= need and gain > iqr
        return (f"claim {'met' if ok else 'NOT met'}: {wins}/{n} pairs (need {need}), "
                f"shift {gain:.4g} vs base IQR {iqr:.4g}")
    if base and iqr / abs(base) > bound and not all_better:
        return f"unresolved: base spread {iqr / abs(base):.3f} > bound {bound}"
    worse = -gain / abs(base) if base else 0.0
    return (f"within bound ({worse:+.3f} worse, bound {bound})" if worse <= bound
            else f"WORSE: {worse:+.3f} past bound {bound}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="2-11", help="inclusive range, e.g. 2-11")
    ap.add_argument("--claim", help="the end-to-end metric the change claims to improve")
    a = ap.parse_args()
    lo, hi = (int(s) for s in a.seeds.split("-"))
    with open(os.path.join(a.base, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results = {"base": {}, "change": {}}
    for seed in range(lo, hi + 1):
        order = ("base", "change") if seed % 2 == 0 else ("change", "base")
        for side in order:
            r = run(getattr(a, side), a.workload, seed, bench["run_seconds"])
            results[side][seed] = r
            vals = {k: v["value"] for k, v in r["metrics"].items() if k in better}
            print(f"seed {seed} {side:6} correct={r['correct']} failed={r['failed']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)

    value = lambda side, seed, m: results[side][seed]["metrics"].get(m, {}).get("value")
    print(f"\n{'metric':18} {'base p50':>12} {'base IQR':>10} {'change p50':>12} {'change wins':>12}"
          "  verdict")
    for m, b in better.items():
        pairs = [(value("base", s, m), value("change", s, m)) for s in results["base"]]
        pairs = [p for p in pairs if None not in p]
        if not pairs:
            continue
        wins = sum((c < p) if b == "lower" else (c > p) for p, c in pairs)
        q = statistics.quantiles([p for p, _ in pairs], n=4) if len(pairs) > 1 else [0, 0, 0]
        base, change = statistics.median(p for p, _ in pairs), statistics.median(c for _, c in pairs)
        gain = (base - change) if b == "lower" else (change - base)
        all_better = (max(c for _, c in pairs) < min(p for p, _ in pairs) if b == "lower"
                      else min(c for _, c in pairs) > max(p for p, _ in pairs))
        print(f"{m:18} {base:12.4g} {q[2] - q[0]:10.3g} {change:12.4g} {wins:>8}/{len(pairs)}  "
              + verdict(m == a.claim, bound[m], base, q[2] - q[0], gain, wins, len(pairs),
                        all_better))
    bad = [(side, s) for side in results for s, r in results[side].items()
           if not r["correct"] or r["failed"] != 0]
    for side, s in bad:
        print(f"BAD RUN: {side} seed {s}: correct={results[side][s]['correct']} "
              f"failed={results[side][s]['failed']}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
