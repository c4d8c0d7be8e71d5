"""Compare two result sets (parent and change) by the rule of the
choosing-metrics guide, section 8.

    python3 perfbench/run.py compare PARENT.jsonl CHANGE.jsonl [--benchmark BENCHMARK.json]

Each file holds the records ``run.py --out`` appends. Runs pair up by
workload, trace mode and seed. For every workload and metric it prints
each side's median and quartiles, the pair wins of the change, and a
verdict:

- improved: the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's own quartile distance, or every
  change run reads better than every parent run;
- no worse: the change's median is within the metric's bound of the
  parent's, and the parent's spread is within the bound;
- worse: beyond the bound, with the parent's spread within it;
- unresolved: anything else (a spread wider than the bound, or a
  metric with no bound that did not improve).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics


def _load(path: str) -> dict[tuple[str, int], dict[int, dict]]:
    runs: dict[tuple[str, int], dict[int, dict]] = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                runs.setdefault((rec["workload"], rec["trace"]), {})[rec["seed"]] = rec["result"]
    return runs


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            lower_better: bool, bound: float | None) -> tuple[str, int, int]:
    sign = 1.0 if lower_better else -1.0
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    pq1, pmed, pq3 = _quartiles(parent)
    cmed = statistics.median(change)
    gain = sign * (pmed - cmed)
    all_better = (max(change) < min(parent)) if lower_better else (min(change) > max(parent))
    if (pairs and wins >= 0.9 * len(pairs) and gain > pq3 - pq1) or all_better:
        return "improved", wins, len(pairs)
    if bound is None or pmed == 0:
        return "unresolved", wins, len(pairs)
    spread_ok = (pq3 - pq1) / abs(pmed) <= bound
    if not spread_ok:
        return "unresolved", wins, len(pairs)
    if -gain <= bound * abs(pmed):
        return "no worse", wins, len(pairs)
    return "worse", wins, len(pairs)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py compare")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    spec: dict[str, dict] = {}
    if os.path.isfile(args.benchmark):
        with open(args.benchmark) as fh:
            bench = json.load(fh)
        spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = _load(args.parent), _load(args.change)
    print(f"{'workload':<13} {'metric':<40} {'parent med [q1,q3]':>30} "
          f"{'change med [q1,q3]':>30} {'wins':>6}  verdict")
    for key in sorted(set(parent) & set(change)):
        p_runs, c_runs = parent[key], change[key]
        names = sorted({m for r in list(p_runs.values()) + list(c_runs.values())
                        for m in r["metrics"]})
        for name in names:
            pv = {s: r["metrics"][name]["value"] for s, r in p_runs.items() if name in r["metrics"]}
            cv = {s: r["metrics"][name]["value"] for s, r in c_runs.items() if name in r["metrics"]}
            if not pv or not cv:
                continue
            m = spec.get(name, {})
            lower = m.get("better", "higher" if name == "rows_per_s" else "lower") == "lower"
            pairs = [(pv[s], cv[s]) for s in sorted(set(pv) & set(cv))]
            v, wins, n = verdict(list(pv.values()), list(cv.values()), pairs, lower,
                                 m.get("bound"))
            ps, cs = (f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
                      for q in (_quartiles(list(pv.values())), _quartiles(list(cv.values()))))
            print(f"{key[0]:<13} {name:<40} {ps:>30} {cs:>30} {wins:>3}/{n:<3} {v}")
    return 0
