#!/usr/bin/env python3
"""Per-query comparison of two graft.Bench reports.

Usage: python3 tools/bench_diff.py <before.json> <after.json>

Each report is a `bench_report.json` written by graft.Bench (min of three
interleaved sweeps, `raw` per-sweep times and one `canary` per sweep). For
every query, in name order, the table shows the raw min-of-3 seconds of both runs and their
ratio, then the canary-normalised times: each sweep's time divided by that
sweep's canary, the min over sweeps, in canary units. The normalised ratio is
the one to read when the two runs saw different host load (ROADMAP aim 1:
raw cross-run diffs do not count). A ratio below 1 means `after` is faster.

A query that failed (-1.0) or is missing in either report shows `-` and is
left out of the totals. The summary gives both totals, the geometric mean of
the ratios, and each report's `codegen_compiles` per sweep when it has them.
Standard library only.
"""
import argparse
import json
import math


def load(path):
    with open(path) as f:
        return json.load(f)


def normalised(report, name):
    """min over sweeps of time / that sweep's canary; None if any sweep failed."""
    times = report["raw"].get(name)
    if not times or min(times) < 0:
        return None
    return min(t / c for t, c in zip(times, report["canary"]))


def raw(report, name):
    t = report["queries"].get(name)
    return t if t is not None and t >= 0 else None


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)

    rows = []
    for name in sorted(set(before["queries"]) | set(after["queries"])):
        rb, ra = raw(before, name), raw(after, name)
        nb, na = normalised(before, name), normalised(after, name)
        rows.append((name, rb, ra, nb, na))
    ratio = lambda x, y: y / x if x and y is not None else None

    cell = lambda v, f: "-" if v is None else format(v, f)
    print(f"{'query':<32} {'before_s':>9} {'after_s':>9} {'ratio':>6}   "
          f"{'before_n':>9} {'after_n':>9} {'n_ratio':>7}")
    for name, rb, ra, nb, na in rows:
        print(f"{name:<32} {cell(rb, '9.4f')} {cell(ra, '9.4f')} {cell(ratio(rb, ra), '6.3f')}   "
              f"{cell(nb, '9.3f')} {cell(na, '9.3f')} {cell(ratio(nb, na), '7.3f')}")

    both = [r for r in rows if None not in r[1:]]
    print(f"\nqueries compared: {len(both)} of {len(rows)}")
    if both:
        tb, ta = sum(r[1] for r in both), sum(r[2] for r in both)
        nb, na = sum(r[3] for r in both), sum(r[4] for r in both)
        print(f"raw total:        {tb:.2f} s -> {ta:.2f} s (x{ta / tb:.3f}); "
              f"geomean ratio {geomean([r[2] / r[1] for r in both]):.3f}")
        print(f"normalised total: {nb:.1f} -> {na:.1f} canary units (x{na / nb:.3f}); "
              f"geomean ratio {geomean([r[4] / r[3] for r in both]):.3f}")
        slower = sum(1 for r in both if r[4] > r[3])
        print(f"normalised: {len(both) - slower} faster or equal, {slower} slower")
    for label, rep in (("before", before), ("after", after)):
        print(f"{label}: canary {rep.get('canary')}, codegen_compiles "
              f"{rep.get('codegen_compiles', '-')}, failed {rep.get('failed', [])}")


if __name__ == "__main__":
    main()
