#!/usr/bin/env python3
"""Compare two Bench artifacts: median per-query ratio over shared queries,
common-query totals, the outliers in both directions, and the queries
present in only one artifact.

Usage: python3 tools/bench_compare.py <new.json> <old.json> [ratio_floor]
"""
import json
import statistics
import sys


def medians(path):
    d = json.load(open(path))
    med = d.get("median")
    if med is None:  # older artifacts: single run under "queries"
        med = d.get("queries", {})
    # r21 renamed subsecond_runs -> subsecond_extra_runs (old: total runs;
    # new: cohort-only passes). Accept both so pre-r21 artifacts compare
    # cleanly (r21 ADVICE), and surface the cohort caveat either way.
    # The cohort size is printed only when the artifact lists the cohort.
    extra = d.get("subsecond_extra_runs", d.get("subsecond_runs", 0))
    if extra:
        cohort = d.get("subsecond_cohort")
        size = f"{len(cohort)} " if cohort else ""
        print(f"note: {path} mixes sample profiles for its {size}sub-second "
              f"cohort queries ({extra} extra runs)", file=sys.stderr)
    # a failed query reports -1: kept here so it never reads as retired
    return {k: v for k, v in med.items() if isinstance(v, (int, float))}


def main():
    new_all, old_all = medians(sys.argv[1]), medians(sys.argv[2])
    floor = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    new = {k: v for k, v in new_all.items() if v > 0}
    old = {k: v for k, v in old_all.items() if v > 0}
    shared = sorted(set(new) & set(old))
    if not shared:
        sys.exit(f"no shared queries between {sys.argv[1]} and {sys.argv[2]} "
                 "- nothing to compare")
    ratios = sorted((new[q] / old[q], q) for q in shared)
    med = statistics.median(r for r, _ in ratios)
    print(f"shared queries: {len(shared)}")
    print(f"median per-query ratio: {med:.2f}x")
    print(f"common-query totals: new {sum(new[q] for q in shared):.1f} s, "
          f"old {sum(old[q] for q in shared):.1f} s")
    hi = [(r, q) for r, q in ratios if r > floor]
    lo = [(r, q) for r, q in ratios if r < 1 / floor]
    print(f"\n> {floor}x ({len(hi)}):")
    for r, q in sorted(hi, reverse=True):
        print(f"  {q}: {old[q]:.2f} -> {new[q]:.2f} s ({r:.2f}x)")
    print(f"\n< {1/floor:.2f}x ({len(lo)}):")
    for r, q in lo:
        print(f"  {q}: {old[q]:.2f} -> {new[q]:.2f} s ({r:.2f}x)")
    # ids present in one artifact only: added queries, and retired ones
    # that would otherwise leave the shared set without a trace
    for title, ids, times in (("new-only", set(new_all) - set(old_all), new_all),
                              ("old-only", set(old_all) - set(new_all), old_all)):
        if ids:
            print(f"\n{title} ({len(ids)}):")
            for q in sorted(ids):
                print(f"  {q}: {times[q]:.2f} s" if times[q] > 0 else f"  {q}: failed")


if __name__ == "__main__":
    main()
