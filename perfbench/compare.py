#!/usr/bin/env python3
"""Compare two sets of benchmark run records: a parent and a change.

    python3 perfbench/compare.py PARENT_RECORDS CHANGE_RECORDS

Each argument is a directory of run records (perfbench/records/*.json, as
run.py writes them) or a single record file. Make the two sets with the
same seeds and settings, alternating which commit runs first, e.g.

    for s in 1 2 3 4 5 6 7 8 9 10; do
      (cd parent && python3 perfbench/run.py --workload W --seed $s --seconds 6)
      (cd change && python3 perfbench/run.py --workload W --seed $s --seconds 6)
      ...next seed: change first, then parent
    done

For every workload and metric the tool prints each side's median and
quartiles, the change's median relative to the parent's, and the share of
pairs the change won (runs paired by seed, in record order otherwise; ties
count for neither side). For `better: lower` metrics a win is a lower value.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

HIGHER_IS_BETTER = {"spark.core_busy_frac"}


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = defaultdict(list)
    for f in files:
        rec = json.loads(f.read_text())
        s = rec["summary"]
        runs[(rec["workload"], bool(rec["trace"]))].append(
            {"seed": rec["seed"], "metrics": {k: v[0] for k, v in s["metrics"].items()},
             "failed": s["failed"], "attempted": s["attempted"]})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    by_seed = {r["seed"]: r for r in b}
    if all(r["seed"] in by_seed for r in a) and len(by_seed) == len(b):
        return [(r, by_seed[r["seed"]]) for r in a]
    return list(zip(a, b))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    for key in sorted(set(base) & set(change)):
        workload, traced = key
        a, b = base[key], change[key]
        names = metrics.PER_LAYER if traced else metrics.END_TO_END
        print(f"\n{workload} ({'traced' if traced else 'untraced'}): "
              f"{len(a)} parent runs, {len(b)} change runs")
        print(f"  {'metric':28s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
              f"{'change/parent':>13s} {'won':>6s}")
        for m in names:
            xa = [r["metrics"][m] for r in a if m in r["metrics"]]
            xb = [r["metrics"][m] for r in b if m in r["metrics"]]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            better = (lambda x, y: x > y) if m in HIGHER_IS_BETTER else (lambda x, y: x < y)
            ps = pairs(a, b)
            won = sum(1 for ra, rb in ps if better(rb["metrics"][m], ra["metrics"][m]))
            rel = qb[1] / qa[1] if qa[1] else float("nan")
            print(f"  {m:28s} {qa[0]:9.4g} {qa[1]:9.4g} {qa[2]:9.4g}  "
                  f"{qb[0]:9.4g} {qb[1]:9.4g} {qb[2]:9.4g}  {rel:12.3f} "
                  f"{won:2d}/{len(ps):<3d}")
        fa = sum(r["failed"] for r in a), sum(r["attempted"] for r in a)
        fb = sum(r["failed"] for r in b), sum(r["attempted"] for r in b)
        print(f"  failed operations: parent {fa[0]}/{fa[1]}, change {fb[0]}/{fb[1]}")


if __name__ == "__main__":
    main()
