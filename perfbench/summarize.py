#!/usr/bin/env python3
"""Summarize recorded runs: median, quartiles and spread of every metric.

    python3 perfbench/summarize.py [runs.jsonl]

Reads perfbench/_work/runs.jsonl by default and prints one JSON object,
grouped by workload and by traced/untraced run.  The spread is the distance
between the first and third quartile as a share of the median, the figure
BENCHMARK.json's bounds are checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(records: list[dict]) -> dict:
    groups: dict[str, dict[str, list[float]]] = {}
    for r in records:
        key = f"{r['workload']}/trace{r['trace']}"
        for name, m in r["result"]["metrics"].items():
            groups.setdefault(key, {}).setdefault(name, []).append(m["value"])
    out: dict = {}
    for key, metrics in sorted(groups.items()):
        out[key] = {}
        for name, vals in metrics.items():
            med = statistics.median(vals)
            row = {"n": len(vals), "median": med}
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                row.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
            out[key][name] = row
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("path", nargs="?", default=os.path.join(HERE, "_work", "runs.jsonl"))
    args = ap.parse_args()
    with open(args.path) as f:
        records = [json.loads(line) for line in f if line.strip()]
    json.dump(summarize(records), sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
