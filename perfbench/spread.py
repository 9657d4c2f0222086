#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over saved results.

    python3 perfbench/spread.py [RESULT.json ...]

For each workload and metric: the runs' median, and the distance between
their first and third quartiles as a share of the median, next to the
metric's bound from ``BENCHMARK.json``.  With no arguments it reads every
untraced record under ``perfbench/results/``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import spread, summarize  # noqa: E402


def main(paths: list[str]) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    values: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for path in paths or sorted(glob.glob(os.path.join(HERE, "results", "*_trace0_*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if rec["failed"]:
            print(f"{path}: {rec['failed']} of {rec['attempted']} operations failed")
        for name, m in rec["metrics"].items():
            values[rec["workload"]][name].append(m["value"])
    for workload, metrics in sorted(values.items()):
        for name, xs in metrics.items():
            s, bound = spread(xs), bounds.get(name)
            verdict = "" if bound is None else (
                "steady" if s < bound / 3 else "within bound" if s <= bound else "OVER BOUND")
            print(f"{workload:16} {name:12} n={len(xs):<3} median={summarize(xs)['median']:.4g} "
                  f"spread={s:.3f} bound={bound} {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
