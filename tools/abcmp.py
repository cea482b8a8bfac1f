#!/usr/bin/env python3
"""Compare two legmin-folded bench files (base vs new) per query.

Usage: abcmp.py <base.json> <new.json> [top_n]
Prints total/geomean and the largest improvements and regressions over
the queries timed (non-zero) in both files, and names the queries skipped.
"""
import json
import math
import sys


def load(p):
    d = json.load(open(p))
    return {k: v for k, v in d["queries"].items() if v is not None}


def main():
    base, new = load(sys.argv[1]), load(sys.argv[2])
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    only = sorted(set(base) ^ set(new))
    if only:
        print(f"skipped {len(only)} queries not timed in both files: "
              + ", ".join(only))
    zero = sorted(q for q in set(base) & set(new)
                  if base[q] <= 0 or new[q] <= 0)
    if zero:
        print(f"skipped {len(zero)} queries with a 0.0 timing: "
              + ", ".join(zero))
    common = sorted(set(base) & set(new) - set(zero))
    if not common:
        print("no query is timed (non-zero) in both files; nothing to compare")
        return 1
    tb = sum(base[q] for q in common)
    tn = sum(new[q] for q in common)
    ratios = [(base[q] / new[q], q) for q in common]
    geo = math.exp(sum(math.log(r) for r, _ in ratios) / len(ratios))
    print(f"queries={len(common)}  total base={tb:.1f}s new={tn:.1f}s "
          f"({tb / tn:.3f}x)  per-query geomean={geo:.3f}x")
    ratios.sort(reverse=True)
    print("\n-- biggest improvements (base_s -> new_s, speedup):")
    for r, q in ratios[:top_n]:
        print(f"  {base[q]:7.3f} -> {new[q]:7.3f}  {r:5.2f}x  {q}")
    print("\n-- biggest regressions:")
    for r, q in ratios[-top_n:][::-1]:
        if r >= 1:
            break
        print(f"  {base[q]:7.3f} -> {new[q]:7.3f}  {r:5.2f}x  {q}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
