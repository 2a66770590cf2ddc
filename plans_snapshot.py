"""Regenerate PLANS.json — the plan-regression snapshot that
tests/test_plan_regression.py gates against. Run after INTENTIONAL plan
changes:

    python plans_snapshot.py

Snapshot semantics (VERDICT r6 item 4): every query is captured by
``plans.capture_plan``, which clears the shared-frame memo and the session
cache immediately before the build, so the flags always describe the full
underlying Catalyst plan — never an order-dependent ``InMemoryTableScan``
stub standing in for whatever an earlier query happened to persist.
``catalog.clearCache()`` works because CacheManager substitution is
resolved at planning time, not baked into the DataFrame. This makes the
snapshot deterministic and lets the plan-hygiene gates cover the
shared-frame ANN/dedup family, previously skipped as cache-dependent.
``python -m profitscout_engine_spark explain <query>`` runs the same
capture for one query.

The run is sharded across worker subprocesses (fresh JVM each): one long
clear-and-rebuild session accumulates enough plan/broadcast state to OOM
the driver (observed at ~240 plans on a 16 GiB heap).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF = "/root/testdata/sf0.001"
CHUNK = 32


def worker(names: list[str], out_path: str) -> None:
    from profitscout_engine_spark.plans import (
        CAPTURE_MASTER,
        capture_plan,
        normalized_plan_sha,
        plan_flags,
    )
    from profitscout_engine_spark.queries import load_registry
    from profitscout_engine_spark.session import get_spark

    spark = get_spark(master=CAPTURE_MASTER)
    reg = load_registry()
    flags: dict[str, dict] = {}
    skipped: dict[str, str] = {}
    for name in names:
        try:
            plan = capture_plan(spark, reg[name].fn, SF)
            flags[name] = {**plan_flags(plan), "plan_sha": normalized_plan_sha(plan)}
        except Exception as exc:  # noqa: BLE001 — record and move on
            skipped[name] = f"{type(exc).__name__}: {exc}"[:200]
    json.dump({"flags": flags, "skipped": skipped}, open(out_path, "w"))


def main() -> None:
    from profitscout_engine_spark.queries import load_registry

    names = list(load_registry())
    flags: dict[str, dict] = {}
    skipped: dict[str, str] = {}
    # per-run chunk dir: fixed /tmp paths could be clobbered by (or load a
    # stale file from) a concurrent snapshot run.
    chunk_dir = tempfile.mkdtemp(prefix="plans_snapshot_")

    def run_chunks(todo: list[str], chunk_size: int, tag: str) -> None:
        # Heavier worker heap than the library default: reset-per-capture
        # rebuilds the iterative trainers' shared frames inside one JVM, and
        # an OOM-stopped SparkContext takes the rest of its chunk with it.
        env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "12g"}
        for i in range(0, len(todo), chunk_size):
            chunk = todo[i : i + chunk_size]
            out = os.path.join(chunk_dir, f"plans_{tag}_{i}.json")
            try:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--worker",
                     "--names", ",".join(chunk), "--out", out],
                    capture_output=True, text=True, timeout=900, env=env,
                )
            except subprocess.TimeoutExpired:
                # a hung chunk is recorded like any other worker failure
                # instead of aborting the whole snapshot run
                for n in chunk:
                    skipped.setdefault(n, "worker timeout (900s)")
                continue
            if r.returncode != 0 or not os.path.exists(out):
                for n in chunk:
                    skipped.setdefault(n, f"worker failed: {r.stderr[-160:]}")
                continue
            part = json.load(open(out))
            flags.update(part["flags"])
            skipped.update(part["skipped"])
            print(f"{tag} {i // chunk_size + 1}: +{len(part['flags'])} "
                  f"(skipped {len(part['skipped'])})", flush=True)

    try:
        run_chunks(names, CHUNK, "chunk")
        # Retry pass: a mid-chunk SparkContext death (OOM) poisons every
        # later capture in that worker ("stopped SparkContext") — re-run the
        # casualties one per fresh JVM, so one heavy query costs at most its
        # own flag, not its neighbours'.
        # Only chunk-level casualties are worth a fresh JVM: a query whose
        # OWN capture failed (worker recorded a real per-query reason) will
        # fail again and burn a chunk slot each.
        def _chunk_casualty(reason: str) -> bool:
            return ("stopped SparkContext" in reason
                    or reason.startswith("worker timeout")
                    or reason.startswith("worker failed"))

        retry = [n for n in names if n not in flags
                 and (n not in skipped or _chunk_casualty(skipped[n]))]
        if retry:
            print(f"retrying {len(retry)} skipped, one per worker", flush=True)
            for n in retry:
                skipped.pop(n, None)
            run_chunks(retry, 1, "retry")
            for n in retry:
                if n not in flags:
                    skipped.setdefault(n, "failed after retry")
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
    out = {
        "sf_dir": SF,
        "clear_first": True,
        "skipped_cache_dependent": dict(sorted(skipped.items())),
        "flags": flags,
    }
    json.dump(out, open(os.path.join(os.path.dirname(__file__), "PLANS.json"), "w"),
              indent=1, sort_keys=True)
    print(f"snapshotted {len(flags)}, skipped {len(skipped)}: {list(skipped)[:5]}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--names", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    if a.worker:
        worker([n for n in a.names.split(",") if n], a.out)
    else:
        main()
