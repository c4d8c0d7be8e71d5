"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--out FILE]
    python3 perfbench/run.py suite --seed N [--trace 0|1] [--out FILE]
    python3 perfbench/run.py compare PARENT.jsonl CHANGE.jsonl

A run prints a readable report, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--out`` appends ``{"workload", "seed", "trace", "result"}`` to a
JSON-lines file, the input of ``compare``. ``suite`` runs the
workloads `BENCHMARK.json` lists, each in its own process, for its
`run_seconds`.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("analytics", "curation", "streaming", "registry_etl", "pipelines")


def _package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "gov_data_pipeline_spark", "__init__.py"))


def _suite(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    status = 0
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"], "--seed",
               str(args.seed), "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        if args.out:
            cmd += ["--out", args.out]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(line for line in lines[:-1] if not line.startswith('{"perfbench_report"')))
        status = status or proc.returncode
    return status


def main(argv: list[str]) -> int:
    if argv and argv[0] == "compare":
        from perfbench.compare import main as compare_main

        return compare_main(argv[1:])
    suite = bool(argv) and argv[0] == "suite"
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    if not suite:
        ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
        ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv[1:] if suite else argv)
    if not _package_present():
        print(f"perfbench: gov_data_pipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if suite:
        return _suite(args)
    from perfbench.harness import run

    return run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), args.out)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main(sys.argv[1:]))
