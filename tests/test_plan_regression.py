"""Plan-regression gate: the physical-plan quality flags of EVERY
registered query are pinned in PLANS.json (generated clear-first on
local[8] at sf0.001 — ``catalog.clearCache()`` before each build, so the
flags always describe the full underlying Catalyst plan, never an
order-dependent InMemoryTableScan stub). A change that silently drops a
pushed filter, turns a broadcast join into a shuffle, introduces a
cartesian product, or adds an exchange fails HERE with a named diff,
instead of surfacing rounds later as a bench regression.

Two layers:

- live comparison: each query re-planned in the warm test session and
  compared flag-for-flag; skipped only when an earlier test already
  cached a shared frame (the snapshot-level layer still covers it);
- snapshot hygiene: the 100 TB design rules asserted over the recorded
  flags of ALL queries — this is what extends the plan gates to the
  shared-frame ANN/dedup family (VERDICT r6 item 4).

Regenerate after INTENTIONAL plan changes: ``python plans_snapshot.py``.
"""

from __future__ import annotations

import json
import os

import pytest

from profitscout_engine_spark.plans import explain_str, plan_flags
from profitscout_engine_spark.queries import load_registry

SNAP_PATH = os.path.join(os.path.dirname(__file__), "..", "PLANS.json")
SNAP = json.load(open(SNAP_PATH))
REGISTRY = load_registry()


def test_snapshot_covers_registry():
    """Every registered query is snapshotted — the clear-first two-layer
    scheme leaves no cache-dependent gap; new queries must be added to
    PLANS.json (python plans_snapshot.py)."""
    covered = set(SNAP["flags"])
    missing = sorted(set(REGISTRY) - covered)
    assert not missing, f"queries absent from PLANS.json: {missing}"
    assert SNAP["skipped_cache_dependent"] == {}, SNAP["skipped_cache_dependent"]


@pytest.mark.parametrize("name", sorted(SNAP["flags"]))
def test_plan_flags_match_snapshot(name, spark, sf_dir):
    if sf_dir != SNAP["sf_dir"]:
        pytest.skip("snapshot pinned at sf0.001")
    plan = explain_str(REGISTRY[name].fn(spark, sf_dir))
    if "InMemoryTableScan" in plan or "InMemoryRelation" in plan:
        pytest.skip(
            "shared frame already cached by an earlier test — covered by "
            "test_snapshot_hygiene_covers_all_plans via the clear-first snapshot"
        )
    got = plan_flags(plan)
    # plan_sha is DRIVER_STATE's operator-edit detector, not a live gate:
    # the live session's conf/caches can shift plan text harmlessly
    want = {k: v for k, v in SNAP["flags"][name].items() if k != "plan_sha"}
    assert got == want, (
        f"{name}: plan drifted from PLANS.json — {dict(set(got.items()) ^ set(want.items()))}. "
        "If intentional, regenerate the snapshot."
    )


def test_snapshot_hygiene_covers_all_plans():
    """The 100 TB design rules over the recorded flags of ALL 255 plans —
    including the shared-frame ANN/dedup family the live layer skips when
    warm: no row-at-a-time Python eval, no cartesian products, nested-loop
    joins only in the documented yardstick/scalar-broadcast allowlist."""
    from tests.test_plans import _NL_JOIN_OK

    kernel_words = ("pandas", "arrow", "python", "decode", "dot", "packed")
    failures = []
    for name, flags in SNAP["flags"].items():
        if flags["python_eval"]:
            failures.append(f"{name}: row-at-a-time Python eval in plan")
        if flags["cartesian"]:
            failures.append(f"{name}: CartesianProduct")
        if flags["bnl_join"] and name not in _NL_JOIN_OK:
            failures.append(f"{name}: undocumented BroadcastNestedLoopJoin")
        if flags.get("arrow_eval") or flags.get("pandas_groups"):
            doc = (REGISTRY[name].fn.__doc__ or "").lower()
            if not any(k in doc for k in kernel_words):
                failures.append(f"{name}: undeclared Arrow Python hop")
    assert not failures, "\n".join(failures)
