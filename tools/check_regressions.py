#!/usr/bin/env python3
"""Per-query screen of two bench columns: compare two bench JSON columns
(graft.Bench / tools/bench_isolated.py output — anything with a
"queries": {name: seconds} map) and list the gates whose time ratio
moved beyond a threshold, as places to look.

It screens columns and makes no claim: one shot per gate on a shared
host cannot tell a 10% change from noise (SCALE.md: q_contamination read
4.9 s in one sf0.1 suite run and 1.7 s in the next, same binary). A
speed-up, or the absence of a slow-down, is claimed only from paired
parent/change runs with `tools/ab.py`.

Usage: python3 tools/check_regressions.py <baseline.json> <current.json>
           [threshold]
Threshold is the flag ratio (default 1.5). Exit code 1 iff any gate's
ratio exceeds it. Queries present on only one side are listed
informationally, never flagged.
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return {k: v for k, v in d.get("queries", {}).items() if v and v > 0}


def main():
    base_path, cur_path = sys.argv[1], sys.argv[2]
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    base, cur = load(base_path), load(cur_path)
    common = sorted(set(base) & set(cur))
    if not common:
        print("no common queries between the two columns")
        return 1
    rows = [(cur[q] / base[q], base[q], cur[q], q) for q in common]
    rows.sort(reverse=True)
    regressions = [r for r in rows if r[0] > threshold]
    improved = [r for r in rows if r[0] < 1 / threshold]
    print(f"{len(common)} common queries; baseline total "
          f"{sum(base[q] for q in common):.1f}s -> current "
          f"{sum(cur[q] for q in common):.1f}s")
    for label, rs in (("REGRESSED", regressions), ("improved", improved)):
        for ratio, b, c, q in rs:
            print(f"{label} {q}: {b:.2f}s -> {c:.2f}s ({ratio:.2f}x)")
    for q in sorted(set(cur) - set(base)):
        print(f"new (not in baseline): {q} {cur[q]:.2f}s")
    for q in sorted(set(base) - set(cur)):
        print(f"dropped (baseline only): {q}")
    if regressions:
        print(f"== {len(regressions)} regression(s) beyond {threshold}x ==")
        return 1
    print(f"== no regressions beyond {threshold}x ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
