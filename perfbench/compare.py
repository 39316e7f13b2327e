#!/usr/bin/env python3
"""Compare two sets of benchmark results, one row per workload and
end-to-end metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds result files that run.py wrote (it keeps them under
.bench_build/results/); only untraced runs count. Runs of the two sides
pair up in the order they were made, which alternates when the sides were
run alternately. Per row: each side's median and quartiles, the share of
pairs the change wins, and a verdict judged against the metric's bound in
BENCHMARK.json:

  improved    the change wins at least 9 in 10 pairs and the medians
              differ by more than the base's own quartile spread
  worse       the change's median is worse than the base's by more than
              the bound
  unresolved  either side's quartile spread is wider than the bound, and
              not every change run beats every base run
  unchanged   none of the above: no worse than the bound allows
"""

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(directory):
    """workload -> list of (time order key, report) for untraced runs."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-t0-*.json"))):
        with open(path) as f:
            rep = json.load(f)["report"]
        stamp = int(os.path.basename(path).rsplit("-", 1)[1].split(".")[0])
        runs.setdefault(rep["workload"], []).append((stamp, rep))
    return {w: [r for _, r in sorted(rs, key=lambda x: x[0])]
            for w, rs in runs.items()}


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def verdict(base, change, better, bound):
    """(verdict, share of pairs the change wins)."""
    sign = 1.0 if better == "higher" else -1.0
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    win_share = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (bm - cm) / bm if bm else 0.0
    spread = max((b3 - b1) / bm if bm else 0.0, (c3 - c1) / cm if cm else 0.0)
    dominates = all(sign * (c - b) > 0 for c in change for b in base)
    if pairs and win_share >= 0.9 and sign * (cm - bm) > (b3 - b1):
        return "improved", win_share
    if worse_by > bound:
        return "worse", win_share
    if spread > bound and not dominates:
        return "unresolved", win_share
    return "unchanged", win_share


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    with open(BENCH) as f:
        metrics = json.load(f)["end_to_end"]
    base, change = load(args.base), load(args.change)
    fmt = "%-18s %-12s %5s %5s  %-30s %-30s %6s  %s"
    print(fmt % ("workload", "metric", "n_a", "n_b", "base q1/med/q3",
                 "change q1/med/q3", "wins", "verdict"))
    for w in sorted(set(base) | set(change)):
        for m in metrics:
            a = [r["end_to_end"][m["name"]]["value"] for r in base.get(w, [])
                 if m["name"] in r["end_to_end"]]
            b = [r["end_to_end"][m["name"]]["value"]
                 for r in change.get(w, []) if m["name"] in r["end_to_end"]]
            if not a or not b:
                print(fmt % (w, m["name"], len(a), len(b), "-", "-", "-",
                             "missing"))
                continue
            v, share = verdict(a, b, m["better"], m["bound"])
            print(fmt % (w, m["name"], len(a), len(b),
                         "%.4g/%.4g/%.4g" % quartiles(a),
                         "%.4g/%.4g/%.4g" % quartiles(b),
                         "%.2f" % share, v))
    return 0


if __name__ == "__main__":
    sys.exit(main())
