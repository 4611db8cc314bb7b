#!/usr/bin/env python3
"""Run-to-run spread of a benchmark's metrics over several result files.

    python3 perfbench/spread.py perfbench/results/etl_batch-seed*-trace0.json

For each metric: the number of runs, the median, and the distance between
the first and third quartiles as a share of the median (`statistics.quantiles
(values, n=4)`), the figure a metric's bound in BENCHMARK.json is judged by.
"""

from __future__ import annotations

import json
import statistics
import sys

import summary


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as f:
            for name, value in json.load(f)["metrics"].items():
                values.setdefault(name, []).append(value)
    for name, vals in values.items():
        spread = summary.relative_spread(vals) if len(vals) > 1 else 0.0
        print(f"{name:24s} runs={len(vals):3d} median={statistics.median(vals):12.4f} spread={spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
