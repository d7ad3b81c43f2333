#!/usr/bin/env python3
"""Median, quartiles and spread of each metric over several runs.

    python3 perfbench/summarize.py run1.out run2.out ...

Each file holds one run's stdout; its last line is the result. The spread
is the inter-quartile distance as a share of the median, the figure the
benchmark's bounds are set against (see BENCHMARK.json).
"""

from __future__ import annotations

import json
import statistics
import sys


def summarize(results: list[dict]) -> dict[str, dict[str, float]]:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("nan"), "runs": len(values)}
    return out


def main(paths: list[str]) -> int:
    results = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            results.append(json.loads(f.read().strip().splitlines()[-1]))
    bad = [p for p, r in zip(paths, results) if not r["correct"]]
    for name, s in summarize(results).items():
        print(f"{name:28s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
              f"spread {s['spread']:.3f}  ({s['runs']} runs)")
    if bad:
        print(f"incorrect runs: {', '.join(bad)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
