"""Isolate re-timer: run ONE registered query in a fresh process with
bench.py's own warm-up and noop-sink timer and print plan-vs-exec split.

Usage:  python isolate_time.py <query> [<query> ...]
        (parent mode forks one clean subprocess per query)

Why this exists (VERDICT r8 item 2): the 272-query single-session suite
shows ~5%/round subtotal drift concentrated in 1.3-1.5x regressions on
sub-6 s queries whose PLANS are unchanged. This tool answers "real
regression or suite-order fixed overhead?" the way the
late_interaction_maxsim case was isolated in round 7:
  - fresh process  -> no accumulated session catalog/codegen/GC debris;
  - exec-same-df   -> re-execute the SAME DataFrame (plan already
                      analyzed): measures pure execution;
  - fresh-plan     -> rebuild the DataFrame each run: adds analysis +
                      optimization + codegen cost on top.
A query whose fresh-plan isolate time is well under its suite time did
not regress; the delta is suite debris.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def worker(name: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from bench import noop_seconds, warm_up
    from profitscout_engine_spark.queries import load_registry
    from profitscout_engine_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"isolate-{name}")
    warm_up(spark, sf_dir)

    fn = load_registry()[name].fn

    # fresh-plan: build + execute, best-of-3, timed like bench.py (the
    # build is inside the clock: a round-9 version that built before the
    # clock "found" a phantom 3-6x suite-vs-isolate gap of untimed builds).
    fresh = [noop_seconds(lambda: fn(spark, sf_dir)) for _ in range(3)]
    # exec-same-df: re-execute the LAST built frame (plan cached in Catalyst).
    df = fn(spark, sf_dir)
    noop_seconds(lambda: df)  # pay its first-execution cost outside the timed runs
    same = [noop_seconds(lambda: df) for _ in range(3)]
    print(json.dumps({
        "query": name,
        "fresh_plan_best": round(min(fresh), 3),
        "fresh_plan_runs": [round(x, 3) for x in fresh],
        "exec_same_df_best": round(min(same), 3),
        "exec_same_df_runs": [round(x, 3) for x in same],
    }), flush=True)


def main(names: list[str]) -> None:
    for name in names:
        try:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", name],
                capture_output=True, text=True, timeout=900,
            )
        except subprocess.TimeoutExpired:
            # one hung query must not abort the rest of the isolate run
            print(json.dumps({"query": name, "err": "worker timeout (900s)"}),
                  flush=True)
            continue
        line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
        print(line[-1] if line else f'{{"query": "{name}", "err": {json.dumps(r.stderr[-300:])}}}',
              flush=True)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print(f"usage: {sys.argv[0]} <query-name>...   (fresh-JVM bench-protocol re-timing)",
              file=sys.stderr)
        sys.exit(2)
    if sys.argv[1] == "--worker":
        worker(sys.argv[2])
    else:
        main(sys.argv[1:])
