#!/usr/bin/env python3
"""Best-of-N bench aggregation + per-query ratio analysis vs a baseline.

Usage: bench_compare.py <baseline_best.json> <out_best.json> <run1.json> [run2.json ...]

Writes <out_best.json> with the per-query min across runs (same shape as
the bench's own JSON: {"queries": {...}, "value": total}), then prints the
ratio distribution (after/before) and the movers, the artifact the round
judges read (the r16-r18 host-analysis format).
"""
import json
import statistics
import sys


def load(p):
    d = json.loads(open(p).read().strip())
    return d["queries"] if isinstance(d, dict) and "queries" in d else d


def main():
    base_p, out_p, *run_ps = sys.argv[1:]
    base = load(base_p)
    runs = [load(p) for p in run_ps]
    # union of keys across ALL runs (not runs[0] only): a query missing
    # from the first run must not silently vanish from the artifact
    keys = sorted({k for r in runs for k in r})
    partial = [k for k in keys if any(k not in r for r in runs)]
    if partial:
        print(f"WARNING: {len(partial)} queries missing from some runs: "
              f"{', '.join(partial)}")
    best = {k: min(r[k] for r in runs if k in r) for k in keys}
    total = round(sum(best.values()), 3)
    json.dump({"metric": "best_of_%d_runs" % len(runs), "value": total,
               "unit": "sec", "queries": best, "partial_keys": partial,
               "runs": run_ps, "baseline": base_p},
              open(out_p, "w"), indent=1)
    dropped = [k for k in base if k in best and base[k] <= 0]
    if dropped:
        print(f"WARNING: skipping ratio for non-positive baselines: "
              f"{', '.join(dropped)}")
    common = [k for k in base if k in best and base[k] > 0]
    ratios = sorted((best[k] / base[k], k) for k in common)
    med = statistics.median(r for r, _ in ratios)
    p10 = ratios[int(0.10 * len(ratios))][0]
    p90 = ratios[int(0.90 * len(ratios))][0]
    print(f"queries={len(common)} total_before={round(sum(base[k] for k in common),2)} "
          f"total_after={total}")
    print(f"ratio median={med:.3f} p10={p10:.3f} p90={p90:.3f} "
          f"min={ratios[0][0]:.3f} max={ratios[-1][0]:.3f}")
    print("top improvements (after/before):")
    for r, k in ratios[:12]:
        print(f"  {r:5.3f}  {base[k]:6.2f} -> {best[k]:6.2f}  {k}")
    print("top regressions:")
    for r, k in ratios[-6:]:
        print(f"  {r:5.3f}  {base[k]:6.2f} -> {best[k]:6.2f}  {k}")
    movers = [(r, k) for r, k in ratios if r > 2.0 or r < 0.5]
    print(f"movers_over_2x_or_under_0.5x={len([m for m in movers if m[0] > 2.0])}"
          f"/{len([m for m in movers if m[0] < 0.5])}")


if __name__ == "__main__":
    main()
