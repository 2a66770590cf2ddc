"""The workloads: what each times, writes and checks.

Each workload has ``prepare`` and ``warm_up`` (set-up; ``setup_s`` counts
``prepare``), ``run`` (the timed region) and ``check`` (correctness,
untimed). An operation is a query, a commit or a check; each that raises or
finds a problem counts as failed.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import pandas as pd

from . import checks

RUN_DATE = "2024-02-01"
PRIOR_DATE = "2024-01-31"


class Ctx:
    """What a workload sees: the session, registry, inputs and counters."""

    def __init__(self, spark, registry, sf_dir, out_dir, tracer, seconds):
        self.spark, self.registry, self.sf_dir = spark, registry, sf_dir
        self.out_dir, self.tracer, self.seconds = out_dir, tracer, seconds
        self.con = checks.oracle_connection(sf_dir)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.ops = []  # traced query-op spans
        self._oracle: dict[str, pd.DataFrame] = {}

    def oracle(self, name: str) -> pd.DataFrame:
        if name not in self._oracle:
            self._oracle[name] = self.con.sql(self.registry[name].oracle).df()
        return self._oracle[name]

    def attempt(self, what: str, fn, *args):
        """Run one operation; a raise is a failed operation."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # one failed operation; the run goes on
            self.failed += 1
            self.problems.append(f"{what}: {type(e).__name__}: {e}"[:300])
            traceback.print_exc()
            return None

    def verify(self, problems: list[str]) -> None:
        """One check operation; any problem fails it."""
        self.attempted += 1
        self.failed += bool(problems)
        self.problems.extend(problems)

    def query(self, name: str, sink):
        """One query operation: build the frame, then sink it. Returns
        (sink result, seconds); a failed query returns (None, seconds)."""
        tr = self.tracer
        t0 = time.perf_counter()

        def op():
            with tr.span("queries.op", name) as span:
                with tr.span("queries.build", name, group=True):
                    df = self.registry[name].fn(self.spark, self.sf_dir)
                with tr.span("queries.sink", name, group=True):
                    out = sink(df)
            if span is not None:
                self.ops.append(span)
            return out

        out = self.attempt(name, op)
        dt = time.perf_counter() - t0
        tr.harvest()
        return out, dt


def to_pandas(df):
    return df.toPandas()


def _write_seed(path: str, mode: str, table) -> None:
    """A prior day in the table's layout: a day partition, or version 1 of a
    versioned table (snapshot directory plus ``_CURRENT`` pointer)."""
    import pyarrow.parquet as pq

    if mode == "day":
        part = os.path.join(path, f"run_date={PRIOR_DATE}")
    else:
        part = os.path.join(path, "v_00000001")
        if mode == "merge_part":
            part = os.path.join(part, f"run_date={PRIOR_DATE}")
    if mode in ("day", "merge_part"):
        table = table.drop_columns(["run_date"])
    os.makedirs(part)
    pq.write_table(table, os.path.join(part, "part-00000.parquet"))
    if mode != "day":
        with open(os.path.join(path, "_CURRENT"), "w") as f:
            f.write("v_00000001")


class Workload:
    name = ""

    def prepare(self, ctx: Ctx) -> None:
        pass

    def warm_up(self, ctx: Ctx) -> list[float]:
        return []


# -- nightly_cold ---------------------------------------------------------------
class Nightly(Workload):
    """Signal -> policy -> outcome job of one night, written through sources.

    (query, table, write mode, merge keys). Modes: ``day`` = day-partition
    overwrite; ``merge_part`` = MERGE into a run_date-partitioned versioned
    table; ``merge`` = MERGE into an unpartitioned versioned table."""

    name = "nightly_cold"
    PLAN = (
        ("scanner_rank", "signals", "day", None),
        ("trader_pipeline", "ledger", "merge_part", ["run_date", "scenario"]),
        ("wintracker_pipeline", "outcomes", "merge", ["o_custkey", "scan_date"]),
    )

    def prepare(self, ctx: Ctx) -> None:
        """Seed every output table with a prior day (part of set-up). The
        seeds are the oracle's rows, written in the tables' own layout."""
        self.seed: dict[str, pd.DataFrame] = {}
        self.version0: dict[str, int] = {}
        for q, table, mode, _ in self.PLAN:
            rel = ctx.con.sql(self._seed_sql(ctx.registry[q].oracle, mode))
            self.seed[table] = rel.df()
            _write_seed(os.path.join(ctx.out_dir, table), mode, rel.arrow())
            self.version0[table] = checks.read_pointer(os.path.join(ctx.out_dir, table))

    @staticmethod
    def _seed_sql(oracle: str, mode: str) -> str:
        if mode != "merge":
            return f"SELECT *, '{PRIOR_DATE}' AS run_date FROM ({oracle})"
        # Prior outcomes: every other customer already has a row for the same
        # scan date (stale values, so the MERGE updates it) and every customer
        # has one for the day before (left alone by the MERGE).
        return f"""
            WITH today AS ({oracle})
            SELECT * REPLACE (day1_pct - 1 AS day1_pct, peak_pct - 1 AS peak_pct)
            FROM today WHERE o_custkey % 2 = 0
            UNION ALL
            SELECT * REPLACE (scan_date - 1 AS scan_date) FROM today"""

    def run(self, ctx: Ctx) -> dict:
        from pyspark.sql import functions as F
        from profitscout_engine_spark.sources import io, txn

        def sink_for(table, mode, keys):
            path = os.path.join(ctx.out_dir, table)

            def sink(df):
                if mode == "day":
                    return io.overwrite_day_partition(df.withColumn("run_date", F.lit(RUN_DATE)),
                                                      path, "run_date")
                if mode == "merge_part":
                    return txn.merge_upsert_txn(ctx.spark, path, df.withColumn("run_date", F.lit(RUN_DATE)),
                                                keys, partition_col="run_date")
                return txn.merge_upsert_txn(ctx.spark, path, df, keys)
            return sink

        t0 = time.perf_counter()
        lat = []
        for q, table, mode, keys in self.PLAN:
            lat.append(ctx.query(q, sink_for(table, mode, keys))[1])
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "latencies": lat, "queries": len(lat)}

    def check(self, ctx: Ctx, result: dict) -> None:
        for q, table, mode, keys in self.PLAN:
            path = os.path.join(ctx.out_dir, table)
            want_today = ctx.oracle(q)
            if mode == "day":
                got = checks.read_parquet_dir(path)
                today = got[got["run_date"] == RUN_DATE].drop(columns="run_date")
                ctx.verify(checks.check_oracle(q, today, want_today))
                prior = got[got["run_date"] == PRIOR_DATE]
                ctx.verify(checks.check_table(f"{table} prior day", prior, self.seed[table], []))
                continue
            version = checks.read_pointer(path)
            got = checks.read_parquet_dir(os.path.join(path, f"v_{version:08d}"))
            if "run_date" in got:
                got["run_date"] = got["run_date"].astype(str)
            if mode == "merge_part":
                today_rows = got[got["run_date"] == RUN_DATE].drop(columns="run_date")
                want = pd.concat([self.seed[table], want_today.assign(run_date=RUN_DATE)],
                                 ignore_index=True)
            else:
                want = checks.merge_expected(self.seed[table], want_today, keys)
                key_set = set(map(tuple, want_today[keys].astype(str).values))
                today_rows = got[[k in key_set for k in map(tuple, got[keys].astype(str).values)]]
            ctx.verify(checks.check_oracle(q, today_rows, want_today))
            ctx.verify(checks.check_table(table, got, want, keys)
                       + checks.check_version(table, self.version0[table], version, 1))


# -- curation_cold --------------------------------------------------------------
class Curation(Workload):
    """Corpus-curation graph queries, each collected to the driver."""

    name = "curation_cold"
    QUERIES = (
        "threshold_sweep_components",
        "label_propagation_rounds",
    )

    def run(self, ctx: Ctx) -> dict:
        t0 = time.perf_counter()
        self.outputs, lat = {}, []
        for q in self.QUERIES:
            self.outputs[q], dt = ctx.query(q, to_pandas)
            lat.append(dt)
        return {"wall_s": time.perf_counter() - t0, "latencies": lat, "queries": len(lat)}

    def check(self, ctx: Ctx, result: dict) -> None:
        for q, out in self.outputs.items():
            if out is None:
                continue
            ctx.verify(checks.check_oracle(q, out, ctx.oracle(q)))
            graph = checks.graph_checks(q, ctx.registry[q].oracle, out, ctx.con)
            if graph is not None:
                ctx.verify(graph)


# -- analyst_warm ---------------------------------------------------------------
class Analyst(Workload):
    """Closed loop, one client: a fixed ordered mix of short read-only
    queries, run in whole passes. Warm-up passes run until the pass time
    stops falling; only then does timing start."""

    name = "analyst_warm"
    MIX = (
        "q14_promo_share",
        "group_quantiles",
        "sma_window",
        "membership_semi",
    )
    MIN_WARMUP, MAX_WARMUP, FALLING = 2, 4, 0.97

    def _pass(self, ctx: Ctx) -> tuple[float, list[float], list]:
        """One pass of the mix: (seconds, latencies, (query, output) pairs)."""
        t0 = time.perf_counter()
        lat, outs = [], []
        for q in self.MIX:
            out, dt = ctx.query(q, to_pandas)
            lat.append(dt)
            outs.append((q, out))
        return time.perf_counter() - t0, lat, outs

    def warm_up(self, ctx: Ctx) -> list[float]:
        """Untimed passes until a pass is no longer clearly faster than the
        one before. Their operations are not counted."""
        passes = []
        counts = ctx.attempted, ctx.failed, list(ctx.problems)
        while len(passes) < self.MAX_WARMUP:
            passes.append(self._pass(ctx)[0])
            if len(passes) >= self.MIN_WARMUP and passes[-1] > self.FALLING * passes[-2]:
                break
        ctx.attempted, ctx.failed, ctx.problems = counts
        ctx.ops.clear()
        return passes

    def run(self, ctx: Ctx) -> dict:
        self.outputs, latencies, passes = [], [], []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < ctx.seconds:
            seconds, lat, outs = self._pass(ctx)
            passes.append(seconds)
            latencies.extend(lat)
            self.outputs.extend(outs)
        return {"wall_s": statistics.median(passes), "latencies": latencies,
                "queries": len(latencies), "passes": len(passes),
                "timed_s": time.perf_counter() - t0}

    def check(self, ctx: Ctx, result: dict) -> None:
        for q, out in self.outputs:
            if out is not None:
                ctx.verify(checks.check_oracle(q, out, ctx.oracle(q)))


WORKLOADS = {w.name: w for w in (Nightly, Curation, Analyst)}
