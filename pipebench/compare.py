"""Compare benchmark results of a parent commit and a change.

Usage: python3 pipebench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]

PARENT and CHANGE hold one run per line: the workload name, a space, then
the run's last stdout line, e.g. made with

  echo "batch_hot $(python3 pipebench/run.py --workload batch_hot --seed 7 \\
        --seconds 6 --trace 0 | tail -1)" >> parent.txt

Runs pair up in file order per workload (run them alternating parent and
change first). For each workload and end-to-end metric the verdict is:

  gain        at least ten pairs, the change wins >= 9/10 of them (ties
              count for neither) and the medians differ by more than the
              parent's IQR
  regressed   the change's median is worse by more than the metric's bound
  unresolved  the run-to-run spread (IQR / median) of either side exceeds
              the bound, unless every change run beats every parent run
  ok          none of the above: no regression beyond the bound

A gain does not count when the change failed more operations. Exit code 1
if any pairing regressed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict[str, list[dict]]:
    runs = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                workload, result = line.split(None, 1)
                runs[workload].append(json.loads(result))
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent: list[float], change: list[float], higher_better: bool,
            bound: float, more_failures: bool) -> tuple[str, int, int]:
    sign = 1 if higher_better else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gap = sign * (cm - pm)
    if -gap > bound * abs(pm):
        return "regressed", wins, len(pairs)
    spread = max((p3 - p1) / abs(pm), (c3 - c1) / abs(cm))
    if spread > bound and not (min(sign * c for c in change) > max(sign * p for p in parent)):
        return "unresolved", wins, len(pairs)
    if (len(pairs) >= 10 and wins >= 0.9 * len(pairs) and gap > p3 - p1
            and not more_failures):
        return "gain", wins, len(pairs)
    return "ok", wins, len(pairs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.benchmark) as f:
        metrics = json.load(f)["end_to_end"]
    parent, change = load(args.parent), load(args.change)

    regressed = False
    detail = []
    print("workload".ljust(14) + "".join(m["name"].ljust(16) for m in metrics))
    for wl in sorted(set(parent) & set(change)):
        ps, cs = parent[wl], change[wl]
        more_failures = sum(r["failed"] for r in cs) > sum(r["failed"] for r in ps)
        row = wl.ljust(14)
        for m in metrics:
            pv = [r["metrics"][m["name"]]["value"] for r in ps]
            cv = [r["metrics"][m["name"]]["value"] for r in cs]
            v, wins, n = verdict(pv, cv, m["better"] == "higher", m["bound"], more_failures)
            regressed |= v == "regressed"
            row += v.ljust(16)
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            detail.append(
                f"{wl:12s} {m['name']:14s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}] "
                f"change {cm:.4g} [{c1:.4g}, {c3:.4g}] {m['unit']}  "
                f"wins {wins}/{n}  bound {m['bound']:.0%}  {v}")
        print(row)
    print()
    print("\n".join(detail))
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
