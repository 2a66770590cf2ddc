"""Engine CLI — run, explain, or list registered queries.

    python -m profitscout_engine_spark list [substring]
    python -m profitscout_engine_spark run <query> [--sf-dir DIR] [--limit N]
    python -m profitscout_engine_spark explain <query> [--sf-dir DIR]

`run` prints the result (bounded by --limit); `explain` prints the formatted
physical plan, its plan-hygiene flags and its normalized ``plan_sha``,
captured the way plans_snapshot.py captures PLANS.json (clear-first, pinned
shuffle count, ``plans.CAPTURE_MASTER``), so at PLANS.json's ``sf_dir`` the
flags and sha are the snapshot's. Single-query timing is isolate_time.py.
The same registry the grading driver sees (`__spark_entry__.queries()`),
so anything runnable here is driver-runnable and vice versa.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="profitscout_engine_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("substring", nargs="?", default="")

    for name in ("run", "explain"):
        p = sub.add_parser(name)
        p.add_argument("query")
        p.add_argument(
            "--sf-dir",
            default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        )
        if name == "run":
            p.add_argument("--limit", type=int, default=20)

    args = ap.parse_args(argv)

    from .queries import load_registry

    registry = load_registry()

    if args.cmd == "list":
        for qname, spec in registry.items():
            if args.substring in qname:
                kind = "oracle" if spec.oracle else "rows-only"
                print(f"{qname:36s} {kind:9s} {','.join(spec.tags)}")
        return 0

    if args.query not in registry:
        close = [q for q in registry if args.query in q]
        print(f"unknown query {args.query!r}; close matches: {close}", file=sys.stderr)
        return 2

    from .session import get_spark

    fn = registry[args.query].fn
    if args.cmd == "explain":
        from .plans import (
            CAPTURE_MASTER,
            capture_plan,
            normalized_plan_sha,
            plan_flags,
        )

        spark = get_spark(app_name=f"pse-explain-{args.query}", master=CAPTURE_MASTER)
        plan = capture_plan(spark, fn, args.sf_dir)
        print(plan)
        print("plan flags:", plan_flags(plan))
        print("plan_sha:", normalized_plan_sha(plan))
        return 0

    spark = get_spark(app_name=f"pse-run-{args.query}")
    df = fn(spark, args.sf_dir)
    t0 = time.time()
    df.show(args.limit, truncate=40)
    n = df.count()
    print(f"{n} rows in {time.time() - t0:.2f}s (showing up to {args.limit})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
