#!/usr/bin/env python3
"""Median, quartiles and spread of every metric over recorded runs.

    python3 perfbench/summarize.py [--since N]

Reads ``.bench_build/perfbench/runs.jsonl`` (one line per run of run.py)
and prints, per workload and trace mode, each metric's median, first and
third quartile and spread, (q3 - q1) / median, as the acceptance rule
computes it, plus the mean process wall time of a run.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.harness import WORK, quartiles  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--since", type=int, default=0,
                   help="skip the first N recorded runs")
    args = p.parse_args(argv)
    with open(WORK / "runs.jsonl") as fh:
        runs = [json.loads(line) for line in fh][args.since:]
    groups: dict[tuple, list[dict]] = {}
    for r in runs:
        groups.setdefault((r["workload"], r["trace"], r["scale"]), []).append(r)
    for (workload, trace, scale), rs in sorted(groups.items()):
        results = [json.loads(r["result"]) for r in rs]
        bad = sum(not res["correct"] for res in results)
        print(f"{workload} trace={trace} scale={scale}: {len(rs)} runs, "
              f"{bad} incorrect, mean run {statistics.mean(r['run_s'] for r in rs):.1f} s, "
              f"seeds {sorted(r['seed'] for r in rs)}")
        for name in results[0]["metrics"]:
            xs = [res["metrics"][name]["value"] for res in results]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {name:44s} median {med:12.4f}  q1 {q1:12.4f}  "
                  f"q3 {q3:12.4f}  spread {spread:7.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
