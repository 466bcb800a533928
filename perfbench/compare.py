#!/usr/bin/env python3
"""Compare two graft checkouts on the benchmark, pair by pair.

    python3 perfbench/compare.py --parent ../graft-parent --change .

Each of ten pairs runs one workload on both checkouts with the same
seed, the side that goes first alternating from pair to pair. Per
workload and end-to-end metric it reports both sides' median and
quartiles, how many pairs the change won (ties count for neither), each
side's failed and attempted operations over its runs, and a verdict:

  better       the change won at least 9 of every 10 pairs and the
               medians differ by more than the parent's own spread
               (the distance between its quartiles);
  worse        the change's median is worse than the parent's by more
               than the metric's bound in BENCHMARK.json;
  unresolved   the parent's spread is wider than the bound, and not
               every change run beat every parent run;
  flagged      it would be better, but the change failed more
               operations than the parent: a gain bought with failures
               does not count;
  unchanged    otherwise.

Both checkouts must carry the same perfbench/ directory: a change that
claims a gain does not edit the benchmark.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

PAIRS = 10
SEED_BASE = 1000


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def improves(a, b, better):
    """True when value a is strictly better than value b."""
    return a < b if better == "lower" else a > b


def wins(parent, change, better):
    """Pairs the change won; equal values win for neither side."""
    return sum(1 for p, c in zip(parent, change) if improves(c, p, better))


def verdict(parent, change, better, bound, parent_failed=0, change_failed=0):
    """The comparison rule for one metric over paired runs; the failed
    counts are each side's failed operations over all its runs."""
    v = gain_or_loss(parent, change, better, bound)
    if v == "better" and change_failed > parent_failed:
        return "flagged"
    return v


def gain_or_loss(parent, change, better, bound):
    """The verdict on the metric's values alone."""
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    spread = pq3 - pq1
    if wins(parent, change, better) * 10 >= 9 * len(parent) and \
            abs(cmed - pmed) > spread:
        return "better"
    worse_by = (cmed - pmed) if better == "lower" else (pmed - cmed)
    if worse_by > bound * abs(pmed):
        return "worse"
    if pmed and spread / abs(pmed) > bound:
        if all(improves(c, p, better) for c in change for p in parent):
            return "better"
        return "unresolved"
    return "unchanged"


def schedule():
    """(seed, first side) per pair, alternating which side runs first."""
    return [(SEED_BASE + i, "parent" if i % 2 == 0 else "change")
            for i in range(PAIRS)]


def run_once(root, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{root}: {workload} seed {seed} failed:\n"
                           f"{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise RuntimeError(f"{root}: {workload} seed {seed} gave wrong answers")
    return ({k: v["value"] for k, v in result["metrics"].items()},
            result["attempted"], result["failed"])


def report(rows):
    """One text line per (workload, metric) row."""
    out = []
    for r in rows:
        p, c = r["parent"], r["change"]
        out.append(
            f"{r['workload']:10s} {r['metric']:16s} "
            f"parent {p[1]:12.4f} [{p[0]:.4f}, {p[2]:.4f}]  "
            f"change {c[1]:12.4f} [{c[0]:.4f}, {c[2]:.4f}]  "
            f"wins {r['wins']}/{PAIRS}  "
            f"failed {r['failed']['parent']}/{r['attempted']['parent']} vs "
            f"{r['failed']['change']}/{r['attempted']['change']}  "
            f"{r['verdict']}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent checkout root")
    ap.add_argument("--change", required=True, help="change checkout root")
    a = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    rows = []
    for w in workloads:
        runs = {"parent": [], "change": []}
        attempted = {"parent": 0, "change": 0}
        failed = {"parent": 0, "change": 0}
        for seed, first in schedule():
            order = ["parent", "change"] if first == "parent" \
                else ["change", "parent"]
            for side in order:
                root = a.parent if side == "parent" else a.change
                values, n, bad = run_once(root, w, seed, bench["run_seconds"])
                runs[side].append(values)
                attempted[side] += n
                failed[side] += bad
        for name, m in metrics.items():
            p = [r[name] for r in runs["parent"]]
            c = [r[name] for r in runs["change"]]
            rows.append({
                "workload": w, "metric": name,
                "parent": quartiles(p), "change": quartiles(c),
                "wins": wins(p, c, m["better"]),
                "attempted": attempted, "failed": failed,
                "verdict": verdict(p, c, m["better"], m["bound"],
                                   failed["parent"], failed["change"])})
    print(report(rows))


if __name__ == "__main__":
    main()
