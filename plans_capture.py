"""Capture .explain("formatted") for named queries into plans/rROUND/<q>_<tag>.txt.

Usage:  python plans_capture.py ROUND before q1 q2 ...
        python plans_capture.py ROUND after  q1 q2 ...

Runs at the bench's scale factor (SPARK_GRAFT_SF_DIR, default sf0.1) in a
fresh process with the shared-frame cache reset before EACH query, so the
captured plan is the full underlying Catalyst plan — never an
InMemoryTableScan stub of whatever a previous capture happened to persist
(the same clear-first rule plans_snapshot.py uses).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from profitscout_engine_spark.plans import CAPTURE_SHUFFLE_PARTITIONS, explain_str
from profitscout_engine_spark.queries import load_registry
from profitscout_engine_spark.queries._util import reset_shared
from profitscout_engine_spark.session import get_spark


def main() -> int:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        raise SystemExit(__doc__)
    rnd, tag, names = int(sys.argv[1]), sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans-r{rnd}", shuffle_partitions=CAPTURE_SHUFFLE_PARTITIONS)
    reg = load_registry()
    for name in names:
        reset_shared()
        spark.catalog.clearCache()
        df = reg[name].fn(spark, sf_dir)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(explain_str(df))
        print(f"captured {name}_{tag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
