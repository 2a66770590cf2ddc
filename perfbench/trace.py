"""Spans, layer wrappers and the Spark status-store reader of the traced run.

A span records (id, layer, name, start, end, parent, run id). Spans live in
memory and are written out as JSON lines when the run ends. The traced run
installs wrappers around each layer's public functions (see ``LAYERS``); the
untraced run installs none, so its timings carry no tracing cost.

Spans that open a Spark job group (``group=True``) get a fresh group id, so
every Spark job can be attributed to the innermost such span. After each
timed operation :meth:`Tracer.harvest` reads the in-process status store
(stages, tasks, SQL metrics) for the new groups. Harvesting per operation,
not once at the end, keeps it ahead of the store's retention limits.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "profitscout_engine_spark"

# (module, public functions, span layer). A call nested inside a span of the
# same layer is counted once, as part of its outermost span.
LAYERS = (
    (f"{PKG}.operators.graph", ("connected_components",), "graph.cc"),
    (f"{PKG}.operators.ranks", (
        "exact_percentiles", "grouped_exact_percentiles",
        "grouped_exact_percentiles_discrete", "percentile_literal_map",
        "order_statistics", "grouped_weighted_median",
        "grouped_weighted_median_df", "with_avg_rank",
    ), "ranks.percentile"),
    (f"{PKG}.sources.txn", (
        "commit_snapshot", "merge_upsert_txn", "delete_where_txn", "compact_snapshot",
    ), "sources.commit"),
    (f"{PKG}.sources.io", (
        "overwrite_day_partition", "merge_upsert", "append_rows", "append_evolving",
        "truncate_load", "write_partitioned", "write_csv", "write_bucketed",
        "write_keyed_documents", "ctas", "compact_parquet", "write_orc", "write_zorder",
    ), "sources.write"),
)

_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),")
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


# Unit of every per-layer metric a traced run reports.
UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.sink_s": "s",
    "queries.driver_s": "s",
    "shared.build_s": "s", "shared.builds": "count", "shared.hits": "count",
    "graph.cc_calls": "count", "graph.cc_rounds": "count", "graph.cc_s": "s",
    "ranks.percentile_calls": "count", "ranks.percentile_s": "s",
    "sources.commits": "count", "sources.write_s": "s", "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_skew_max": "ratio",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


class Span:
    __slots__ = ("id", "layer", "name", "start", "end", "parent", "run", "group")

    def __init__(self, sid, layer, name, parent, run):
        self.id, self.layer, self.name, self.parent, self.run = sid, layer, name, parent, run
        self.start, self.end, self.group = time.time(), None, None

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def _ancestors(by_id: dict[int, Span], span: Span):
    """The spans enclosing ``span``, innermost first."""
    span = by_id.get(span.parent)
    while span is not None:
        yield span
        span = by_id.get(span.parent)


def self_times(spans: list[Span], layer: str) -> dict[int, float]:
    """Self time of each ``layer`` span: its duration minus that of the
    nearest nested spans of the same layer (a shared build that builds
    another shared frame is not charged for the inner build)."""
    by_id = {s.id: s for s in spans}
    own = {s.id: s.dur for s in spans if s.layer == layer}
    for s in spans:
        if s.layer == layer:
            p = next((p for p in _ancestors(by_id, s) if p.layer == layer), None)
            if p is not None:
                own[p.id] -= s.dur
    return own


class Tracer:
    """Span recorder. Disabled, every method is a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run, self.enabled = run_id, enabled
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.sc = None
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql: dict[str, int] = defaultdict(int)
        self._pending: list[Span] = []
        self._last_exec = -1
        self.harvest_s = 0.0
        self.bookkeeping_s = 0.0
        self.jspark = None

    def reset(self) -> None:
        """Start the timed region: forget what set-up and warm-up ran."""
        self.harvest()
        self.counts.clear()
        self.jobs.clear()
        self.stages.clear()
        self.sql.clear()
        self.harvest_s = self.bookkeeping_s = 0.0

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str, group: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        s = Span(len(self.spans), layer, name, self.stack[-1].id if self.stack else None, self.run)
        self.spans.append(s)
        self.stack.append(s)
        prev = None
        if group and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            s.group = f"{self.run}:{s.id}"
            self.sc.setJobGroup(s.group, f"{layer} {name}")
            self._pending.append(s)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self.stack.pop()
            if s.group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.bookkeeping_s += time.perf_counter() - t1

    def innermost(self, layer: str) -> bool:
        return bool(self.stack) and self.stack[-1].layer == layer

    def within(self, layer: str) -> bool:
        return any(s.layer == layer for s in self.stack)

    # -- wrappers ----------------------------------------------------------
    def install(self, spark) -> None:
        """Wrap every layer's public functions in every loaded program module
        that holds a reference to them. Call after the registry import."""
        self.sc, self.jspark = spark.sparkContext, spark._jsparkSession
        self._quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        for mod_name, names, layer in LAYERS:
            mod = importlib.import_module(mod_name)
            for name in names:
                orig = getattr(mod, name)
                _rebind(orig, self._wrap_call(orig, layer, name))
        util = importlib.import_module(f"{PKG}.queries._util")
        for name in ("shared", "shared_value"):
            orig = getattr(util, name)
            _rebind(orig, self._wrap_shared(orig))
        # Convergence probes: a count() issued directly by a CC loop is one
        # round to fixpoint.
        df_cls = type(spark.range(0))
        orig_count = df_cls.count

        @functools.wraps(orig_count)
        def count(df):
            if self.innermost("graph.cc"):
                self.counts["graph.cc_rounds"] += 1
            return orig_count(df)

        df_cls.count = count

    def _wrap_call(self, orig, layer, name):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer, name, group=not self.within(layer)):
                return orig(*args, **kwargs)

        return wrapper

    def _wrap_shared(self, orig):
        @functools.wraps(orig)
        def wrapper(spark, sf_dir, key, builder):
            built = []

            def traced_builder():
                built.append(True)
                with self.span("shared.build", key, group=True):
                    return builder()

            out = orig(spark, sf_dir, key, traced_builder)
            if not built:
                self.counts["shared.hits"] += 1
            return out

        return wrapper

    # -- status store ------------------------------------------------------
    def harvest(self) -> None:
        """Read jobs, stages and SQL metrics of the groups opened since the
        last harvest. Runs between timed operations."""
        if not self.enabled or self.sc is None:
            return
        t0 = time.time()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store has seen every event
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self._pending:
            for jid in tracker.getJobIdsForGroup(s.group):
                self._read_job(store, jid, s.id)
        self._pending = []
        self._read_sql()
        self.harvest_s += time.time() - t0

    def _read_job(self, store, jid: int, span_id: int) -> None:
        jd = store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        self.jobs[jid] = {
            "span": span_id,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
        }
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in self.stages:
                continue
            sd = store.lastStageAttempt(sid)
            st = {
                "status": sd.status().toString(),
                "tasks": sd.numCompleteTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "input_bytes": sd.inputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.diskBytesSpilled(),
                "skew": 1.0,
            }
            # Task skew only where it can mean something: several tasks
            # and at least 0.2 s of executor time in the stage.
            if st["tasks"] >= 4 and st["run_s"] >= 0.2:
                summ = store.taskSummary(sid, sd.attemptId(), self._quantiles)
                if summ.isDefined():
                    q = summ.get().executorRunTime()
                    med, mx = q.apply(0), q.apply(1)
                    st["skew"] = mx / med if med > 0 else 1.0
            self.stages[sid] = st

    def _read_sql(self) -> None:
        """Python-boundary bytes from SQL metrics of executions finished
        since the last harvest (only plans with Python/Arrow UDF nodes)."""
        sql_store = self.jspark.sharedState().statusStore()
        execs = sql_store.executionsList()
        i = execs.size() - 1
        newest = self._last_exec
        while i >= 0:
            ui = execs.apply(i)
            eid = ui.executionId()
            if eid <= self._last_exec:
                break
            newest = max(newest, eid)
            # One call per execution: the metric list rendered as text,
            # "SQLPlanMetric(<name>,<accumulator id>,<type>)" per metric.
            wanted = {int(acc): PYTHON_METRICS[name]
                      for name, acc in _PLAN_METRIC.findall(ui.metrics().toString())
                      if name in PYTHON_METRICS}
            if wanted:
                values = sql_store.executionMetrics(eid)
                for acc, key in wanted.items():
                    v = values.get(acc)
                    if v.isDefined():
                        self.sql[key] += parse_size(v.get())
            i -= 1
        self._last_exec = newest

    # -- results -----------------------------------------------------------
    def layer_metrics(self, t0: float, ops: list[Span]) -> dict[str, float]:
        """Per-layer figures over the spans that started at or after ``t0``."""
        spans = [s for s in self.spans if s.start >= t0 and s.end is not None]
        by_id = {s.id: s for s in self.spans}

        def outer(prefix):
            """Spans of the layers named ``prefix*`` not nested in another."""
            return [s for s in spans if s.layer.startswith(prefix)
                    and not any(p.layer.startswith(prefix) for p in _ancestors(by_id, s))]

        def within(job, layer=None, span=None):
            s = by_id[job["span"]]
            return any(p.layer == layer or p is span for p in (s, *_ancestors(by_id, s)))

        m: dict[str, float] = {}
        m["queries.build_s"] = sum(s.dur for s in spans if s.layer == "queries.build")
        m["queries.sink_s"] = sum(s.dur for s in spans if s.layer == "queries.sink")
        m["queries.build_jobs"] = sum(within(j, layer="queries.build") for j in self.jobs.values())
        m["queries.driver_s"] = sum(_uncovered(op, [
            (j["start"], j["end"]) for j in self.jobs.values()
            if j["start"] is not None and j["end"] is not None and within(j, span=op)
        ]) for op in ops)
        builds = [s for s in spans if s.layer == "shared.build"]
        own = self_times(spans, "shared.build")
        m["shared.build_s"] = sum(own[s.id] for s in builds)
        m["shared.builds"] = len(builds)
        m["shared.hits"] = self.counts["shared.hits"]
        cc = [s for s in spans if s.layer == "graph.cc"]
        m["graph.cc_calls"] = len(cc)
        m["graph.cc_rounds"] = self.counts["graph.cc_rounds"]
        m["graph.cc_s"] = sum(s.dur for s in outer("graph.cc"))
        rk = outer("ranks.")
        m["ranks.percentile_calls"] = len(rk)
        m["ranks.percentile_s"] = sum(s.dur for s in rk)
        src = outer("sources.")
        m["sources.commits"] = sum(1 for s in src if s.layer == "sources.commit")
        m["sources.write_s"] = sum(s.dur for s in src)
        st = list(self.stages.values())
        m["exec.jobs"] = len(self.jobs)
        m["exec.stages"] = sum(1 for s in st if s["status"] != "SKIPPED")
        m["exec.tasks"] = sum(s["tasks"] for s in st)
        for k in ("run_s", "cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            m[f"exec.{k}"] = sum(s[k] for s in st)
        m["exec.task_skew_max"] = max((s["skew"] for s in st), default=1.0)
        for key in PYTHON_METRICS.values():
            m[key] = self.sql.get(key, 0)
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def _rebind(orig, wrapper) -> None:
    """Point every program-module attribute that is ``orig`` at ``wrapper``
    (query modules bind layer functions by name at import time)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def _uncovered(op: Span, intervals: list[tuple[float, float]]) -> float:
    """Seconds of ``op`` that no job interval covers."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, op.start), min(e, op.end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(op.dur - covered, 0.0)


def parse_size(text: str) -> int:
    """First byte size in a rendered SQL metric ("total (...)\\n1.2 KiB (...)")."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return int(float(m.group(1)) * _UNIT[m.group(2)]) if m else 0
