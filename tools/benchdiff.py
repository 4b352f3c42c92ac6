#!/usr/bin/env python3
"""Compare perfbench runs of a parent commit and a change, metric by metric.

    python3 tools/benchdiff.py PARENT CHANGE [--benchmark BENCHMARK.json]

PARENT and CHANGE are each a file or a directory of files holding the
captured standard output of `python3 perfbench/run.py ... --trace 0` runs
(any number of runs per file, any workloads). A run is its
`PERFBENCH_DETAIL {...}` line, which names the workload and seed, followed by
its result line. The end-to-end metrics, their direction and their bounds
come from BENCHMARK.json.

For each (workload, end-to-end metric) it prints both medians, the parent's
quartile spread (Q3 - Q1) and one verdict:

  worse       the change's median is worse than the parent's by more than
              the metric's bound, or the change fails a larger share of
              operations than the parent;
  better      the change wins at least 9 of every 10 pairs (runs paired by
              seed, else in order; ties count for neither) and its median
              beats the parent's by more than the parent's quartile spread;
  unresolved  the parent's spread, relative to its median, is wider than the
              bound (unless every change run beats every parent run), or a
              side has fewer than two runs;
  unchanged   otherwise.

Exit status: 0, or 1 if any verdict is "worse". It reads its inputs only.
"""
import argparse
import json
import os
import statistics
import sys

DETAIL = "PERFBENCH_DETAIL "


def read_runs(path):
    """{workload: [(seed, result)]} from every file under path."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs = {}
    for f in files:
        detail = None
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith(DETAIL):
                    detail = json.loads(line[len(DETAIL):])
                elif line.startswith("{") and detail is not None:
                    result = json.loads(line)
                    if "metrics" in result and not detail.get("trace"):
                        runs.setdefault(detail["workload"], []).append(
                            (detail.get("seed"), result))
                    detail = None
    return runs


def quartiles(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def pairs(parent, change):
    """(parent value, change value) pairs: by seed when the seeds match."""
    ps, cs = dict(parent), dict(change)
    if len(ps) == len(parent) and set(ps) == set(cs):
        return [(ps[s], cs[s]) for s in sorted(ps)]
    return list(zip([v for _, v in parent], [v for _, v in change]))


def failed_share(runs):
    attempted = sum(r["attempted"] for _, r in runs)
    failed = sum(r["failed"] for _, r in runs)
    return failed / max(attempted, 1)


def verdict(parent, change, bound, lower_better, more_failures):
    """parent, change: [(seed, value)]. Returns (verdict, facts)."""
    pv = [v for _, v in parent]
    cv = [v for _, v in change]
    mp, mc = statistics.median(pv), statistics.median(cv)
    sign = 1 if lower_better else -1
    # > 0 means the change is worse, as a fraction of the parent's median
    worse_by = sign * (mc - mp) / mp
    iqr = None
    if len(pv) >= 2:
        q1, q3 = quartiles(pv)
        iqr = q3 - q1
    prs = pairs(parent, change)
    wins = sum(1 for p, c in prs if sign * (c - p) < 0)
    facts = {"parent_median": mp, "change_median": mc, "parent_iqr": iqr,
             "delta": worse_by, "wins": wins, "pairs": len(prs)}
    if more_failures or worse_by > bound:
        return "worse", facts
    if iqr is None or len(cv) < 2:
        return "unresolved", facts
    if wins >= 0.9 * len(prs) and sign * (mp - mc) > iqr:
        return "better", facts
    all_better = all(sign * (c - p) < 0 for c in cv for p in pv)
    if iqr / mp > bound and not all_better:
        return "unresolved", facts
    return "unchanged", facts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bench = json.load(fh)
    parent, change = read_runs(args.parent), read_runs(args.change)

    def fmt(x):
        return "-" if x is None else f"{x:.4g}"

    print(f"{'workload':<14} {'metric':<9} {'runs':>5} {'parent':>9} "
          f"{'change':>9} {'delta':>7} {'p_iqr':>8} {'wins':>6}  verdict")
    any_worse = False
    for w in (w["name"] for w in bench["workloads"]):
        p_runs, c_runs = parent.get(w, []), change.get(w, [])
        more_failures = (bool(c_runs) and
                         failed_share(c_runs) > failed_share(p_runs))
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [(s, r["metrics"][name]["value"]) for s, r in p_runs
                  if name in r["metrics"]]
            cv = [(s, r["metrics"][name]["value"]) for s, r in c_runs
                  if name in r["metrics"]]
            if not pv or not cv:
                print(f"{w:<14} {name:<9} {len(pv):>2}/{len(cv):<2} "
                      f"{'':>9} {'':>9} {'':>7} {'':>8} {'':>6}  unresolved"
                      " (no runs)")
                continue
            v, f = verdict(pv, cv, m["bound"], m["better"] == "lower",
                           more_failures)
            any_worse |= v == "worse"
            print(f"{w:<14} {name:<9} {len(pv):>2}/{len(cv):<2} "
                  f"{fmt(f['parent_median']):>9} {fmt(f['change_median']):>9} "
                  f"{f['delta']:>+7.1%} {fmt(f['parent_iqr']):>8} "
                  f"{f['wins']:>2}/{f['pairs']:<3}  {v}")
    print("delta: change vs parent median, positive = worse; "
          "p_iqr: parent Q3 - Q1; wins: pairs the change won")
    sys.exit(1 if any_worse else 0)


if __name__ == "__main__":
    main()
