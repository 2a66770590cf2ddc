"""Summarise recorded runs: per workload and metric, the median and the
spread (inter-quartile range as a share of the median), host steal, and the
tracing overhead (median traced wall_s minus median untraced wall_s).

    python3 perfbench/summarize.py [.perfbench/results/runs.jsonl] [--since UNIX_TIME]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
from collections import defaultdict

DEFAULT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench", "results", "runs.jsonl")


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("path", nargs="?", default=DEFAULT)
    ap.add_argument("--since", type=float, default=0.0,
                    help="only runs that ended after this UNIX time")
    args = ap.parse_args()
    runs = defaultdict(list)
    with open(args.path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("ended", 0) >= args.since:
                runs[(r["workload"], r["trace"])].append(r)
    for (workload, traced), rs in sorted(runs.items()):
        print(f"== {workload} trace={traced}: {len(rs)} runs, seeds {[r['seed'] for r in rs]}")
        print(f"   steal_s median {statistics.median(r['steal_s'] for r in rs):.1f} "
              f"max {max(r['steal_s'] for r in rs):.1f}; failed {[r.get('failed', 0) for r in rs]}")
        names = rs[0]["metrics"]
        for name in names:
            vals = [r["metrics"][name]["value"] for r in rs if name in r["metrics"]]
            line = f"   {name:28s} median {statistics.median(vals):14.4f}"
            if len(vals) >= 2:
                line += f"  spread {spread(vals):6.3f}"
            print(line)
    for workload in sorted({w for w, _ in runs}):
        if (workload, 0) in runs and (workload, 1) in runs:
            plain = statistics.median(r["e2e"]["wall_s"] for r in runs[(workload, 0)])
            traced = statistics.median(r["e2e"]["wall_s"] for r in runs[(workload, 1)])
            print(f"tracing overhead {workload}: {traced - plain:+.2f} s "
                  f"({(traced - plain) / plain:+.1%} of wall_s {plain:.2f} s)")


if __name__ == "__main__":
    main()
