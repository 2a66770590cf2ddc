"""Physical-plan inspection & quality gates.

The 100 TB design rules, written as assertions over Catalyst's formatted
output: filters/projections must reach the parquet scan, small dims must
broadcast, pair generators must never cartesian-product, Python must stay
out of hot paths. Every plan the repo reads is rendered by
:func:`explain_str`; :func:`capture_plan` is the clear-first capture behind
PLANS.json (plans_snapshot.py) and the CLI, which prints one query's plan,
flags and normalized ``plan_sha``:

    python -m profitscout_engine_spark explain <query> [--sf-dir DIR]
"""

from __future__ import annotations

import contextlib
import io
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Shuffle partitions every capture_plan() call pins. Captured plan text
# embeds the count — hashpartitioning(…, N) — so PLANS.json plan shas, and
# the DRIVER_STATE hashes built on them, are only comparable across captures
# taken at one fixed N, whatever the capturing session's task-slot default is.
CAPTURE_SHUFFLE_PARTITIONS = 32
# Master of every capturing session (plans_snapshot.py workers, the CLI
# explain): the task-slot count reaches plan text too, through fan_out's
# round-robin repartition(defaultParallelism).
CAPTURE_MASTER = "local[8]"

# explain_str() mutates the session-global maxPlanStringLength; concurrent
# captures (or an action racing a capture) could interleave save/restore and
# strand the cap at 2^31-16, silently re-enabling full per-action plan
# rendering for the rest of the session (ADVICE r11). One capture at a time.
_EXPLAIN_LOCK = threading.Lock()


@contextlib.contextmanager
def _pinned_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of the block, then restore (or
    unset) the previous value."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def explain_str(df: DataFrame) -> str:
    """Capture ``df.explain("formatted")`` as a string.

    Lifts ``spark.sql.maxPlanStringLength`` for the duration of the call:
    the session caps it (see session.py — per-action plan rendering for the
    SQL-listener event is pure overhead on giant shared-frame trees), but
    every plan GATE flows through this function and must see the complete,
    untruncated plan — a silently truncated capture would turn the flag
    snapshot and the plan-sha operator-edit detector into no-ops."""
    with _EXPLAIN_LOCK, _pinned_conf(
        df.sparkSession, "spark.sql.maxPlanStringLength", str(2**31 - 16)
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def capture_plan(
    spark: SparkSession, build: Callable[[SparkSession, str], DataFrame], sf_dir: str
) -> str:
    """The clear-first capture: ``build(spark, sf_dir)``'s formatted plan,
    built from a pristine session at CAPTURE_SHUFFLE_PARTITIONS.

    The cache registry AND the session-shared frame memo are dropped first
    (see ``queries._util.reset_shared``), so the plan is the full underlying
    Catalyst plan — never an order-dependent ``InMemoryTableScan`` stub of
    whatever an earlier build happened to persist — and does not depend on
    which queries the session planned before. The shuffle count is pinned
    around the build too, because iterative builds run their eager rounds
    (and size their checkpoints) while building."""
    from ..queries._util import reset_shared

    # clearCache() BEFORE the memo's per-frame unpersist(): unpersisting a
    # frame that other cache entries are built on makes Spark re-plan each
    # of those entries (CacheManager.recacheByCondition), and re-optimizing
    # the nested shared-frame chains runs Catalyst constraint inference
    # for minutes on a 12 GB heap. With the registry already empty, every
    # unpersist() is a no-op.
    spark.catalog.clearCache()
    reset_shared()
    with _pinned_conf(
        spark, "spark.sql.shuffle.partitions", str(CAPTURE_SHUFFLE_PARTITIONS)
    ):
        return explain_str(build(spark, sf_dir))


def pushed_filters(plan: str) -> str:
    """The PushedFilters line of the first scan in a formatted plan."""
    if "PushedFilters:" not in plan:
        return ""
    return plan.split("PushedFilters:")[1].split("\n")[0].strip()


def read_schema(plan: str) -> str:
    if "ReadSchema:" not in plan:
        return ""
    return plan.split("ReadSchema:")[1].split("\n")[0].strip()


def normalized_plan_sha(plan: str) -> str:
    """Content hash of a formatted plan with the session-dependent noise
    stripped — expression ids (#NN, a global counter), plan/subquery ids,
    object addresses, and tmp-dir paths (mkdtemp differs per process) —
    so the SAME logical+physical plan hashes identically across sessions.
    This is the operator-edit detector behind DRIVER_STATE.json: a change
    inside an operator (e.g. a percentile interpolation rule) shifts the
    expression tree and therefore this hash, even when the query's own
    source and its plan FLAGS are unchanged."""
    import hashlib
    import re

    s = re.sub(r"#\d+", "#", plan)
    s = re.sub(r"\b(?:plan_id|id|exprId|cteId|statsId)=\d+", "id=", s)
    s = re.sub(r"@[0-9a-f]{6,}", "@", s)
    s = re.sub(r"/tmp/\S+", "/tmp/_", s)
    s = re.sub(r"/spark-warehouse/\S+", "/spark-warehouse/_", s)
    # RDD ids are a session-global counter: a createDataFrame scan renders
    # as "MapPartitionsRDD[6]" in a fresh session and "[99]" after other
    # queries planned first — pure session-order noise (bit round 8: 11
    # phantom stale-green flags after a re-chunked snapshot run)
    s = re.sub(r"RDD\[\d+\]", "RDD[_]", s)
    # …and the RDD's creation call site is JVM-state noise: the same scan
    # renders "RDD[_] at localCheckpoint at NativeMethodAccessorImpl.java:0"
    # in a fresh JVM and "… at <unknown>:0" once reflection inflation has
    # swapped the native accessor for a generated one (graph_modularity
    # captured 13th in one worker). Keep the operation, drop the site.
    s = re.sub(r"(RDD\[_\] at \w+) at [^\s,\]]+:\d+", r"\1", s)
    # Round-11 noise class: CollapseProject's common-subexpression aliases
    # (_common_expr_N) draw N from a session-global counter just like
    # exprIds — the same plan renders _common_expr_0 in a fresh session and
    # _common_expr_16 after other queries planned first (bit round 11:
    # crawl_budget_allocator flipped sha between the full chunked snapshot
    # and a solo worker with byte-identical code).
    s = re.sub(r"_common_expr_\d+", "_common_expr_", s)
    # Round-10 noise class: iterative builds (localCheckpoint loops) leave
    # MATERIALIZED AQE query stages in the final plan, whose rendered
    # Statistics(sizeInBytes=…, rowCount=…) are runtime MEASUREMENTS, not
    # operator structure — shuffle byte sizes vary with codec buffering and
    # session history (bit round 10: k_core_peel's sha flipped between
    # snapshot runs with byte-identical code). Stage ids are counters too.
    # Statistics renderings can nest one paren level (ColumnStat details);
    # the old [^)]* stopped at the first ')' and left a dangling unparsed
    # tail that still flipped shas (ADVICE r10). One nesting level handled.
    s = re.sub(r"Statistics\((?:[^()]|\([^()]*\))*\)", "Statistics(_)", s)
    s = re.sub(r"QueryStage \(\d+\)", "QueryStage (_)", s)
    # Round-10 noise class: RewriteDistinctAggregates orders the per-column
    # distinct groups of its Expand by exprId-dependent hash order, so a
    # multi-distinct plan renders its (otherwise identical) expand/keys/
    # partitioning column lists in session-order-dependent order — the
    # same query hashed differently depending on which queries planned
    # earlier in the worker (bit round 10: table_profile/enrichment_pipeline
    # flipped sha between chunkings with byte-identical code). Canonicalize
    # ONLY the lines carrying the expand's gid column, at the GROUP level
    # (ADVICE r10 — the r10 token-multiset flatten erased bracket structure
    # and column-to-group pairing): each bracketed list sorts its COMMA-
    # SEPARATED ELEMENTS (paren-aware, nested brackets canonicalized first
    # and kept intact as single elements), so an expand group like
    # [suppkey#, null, 0] survives as a unit and only the session-order-
    # dependent ORDERING of groups/columns is erased. Adding/removing/
    # renaming a distinct column, or re-pairing a column to a different
    # group, still shifts the hash.
    # …and the gid VALUES themselves are assigned to distinct columns in
    # exprId-hash order, so `[1, l_tax#, null…]` in one session is
    # `[1, l_quantity#, null…]` in another and every
    # `FILTER (WHERE (gid# = N))` pairs N with a different function (bit
    # round 11: table_profile flipped sha with byte-identical code even
    # after group-level sorting). Erase integer literals on gid-carrying
    # lines BEFORE canonicalizing, so groups differing only in gid
    # numbering collapse; the function names and column multisets still
    # pin the operator structure.
    s = "\n".join(
        _canon_bracket_groups(re.sub(r"\b\d+\b", "_", line))
        if "gid#" in line
        else line
        # split("\n"), NOT splitlines(): the latter drops a trailing
        # newline and would shift the hash of every gid-free plan too
        for line in s.split("\n")
    )
    return hashlib.sha256(s.encode()).hexdigest()


def _canon_bracket_groups(line: str) -> str:
    """Order-free canonical form of one plan line: every ``[...]`` AND
    ``(...)`` group sorts its top-level comma-separated elements (the
    noise class covers bracketed expand/key lists and paren-rendered
    ``hashpartitioning(a#, gid#, 32)`` alike). Nested groups recurse
    first, then ride along as single (already-canonical) elements of
    their parent — so an expand group like ``[suppkey#, null, 0]``
    survives as an intact unit inside the outer group list."""
    closer = {"[": "]", "(": ")"}

    def parse(s: str, i: int, opener: str) -> tuple[str, int]:
        # i points just past the opener; returns (canonical group, next i)
        close = closer[opener]
        elems: list[str] = []
        cur: list[str] = []
        while i < len(s):
            ch = s[i]
            if ch in closer:
                inner, i = parse(s, i + 1, ch)
                cur.append(inner)
            elif ch == close:
                elems.append("".join(cur).strip())
                return (
                    opener + ", ".join(sorted(e for e in elems if e)) + close,
                    i + 1,
                )
            elif ch == ",":
                elems.append("".join(cur).strip())
                cur = []
                i += 1
            else:
                cur.append(ch)
                i += 1
        # unbalanced opener — keep what we have, order-free
        elems.append("".join(cur).strip())
        return opener + ", ".join(sorted(e for e in elems if e)) + close, i

    out: list[str] = []
    i = 0
    while i < len(line):
        if line[i] in closer:
            seg, i = parse(line, i + 1, line[i])
            out.append(seg)
        else:
            out.append(line[i])
            i += 1
    return "".join(out)


def count_unpartitioned_windows(plan: str) -> int:
    """Window nodes whose spec has NO partition columns — every row of the
    input funnels through one task. Legitimate ONLY over provably bounded
    frames (a calendar day spine, a ≤NUM_BUCKETS bucket table, a literal
    lag spine); on a data-sized frame it is the single-task sort this
    engine's ranks/scan operators exist to kill. Detection: in the
    formatted node details, a Window's Arguments render as
    ``[exprs], [partition], [order]`` when partitioned and
    ``[exprs], [order]`` when not; a two-group spec whose second group
    carries sort directions is therefore unpartitioned (a partition-only
    spec has no ASC/DESC there)."""
    import re

    n = 0
    # exactly the Window/WindowInPandas execs — NOT WindowGroupLimit, whose
    # argument list has a different shape (part, order, fn, k, mode) and
    # which is a pushed-down LIMIT, not a windowed computation
    for m in re.finditer(
        r"^\(\d+\) Window(?:InPandas)?\s*\n(?:(?!\(\d+\) ).*\n?)*", plan, re.M
    ):
        block = m.group(0)
        am = re.search(r"^Arguments: (.*)$", block, re.M)
        if not am:
            continue
        args = am.group(1)
        groups = args.count("], [") + 1
        if groups == 2:
            second = args.rsplit("], [", 1)[-1]
            if " ASC" in second or " DESC" in second:
                n += 1
        elif groups < 2:
            n += 1
    return n


def plan_flags(plan: str) -> dict[str, bool | int]:
    """Structural quality signals of one formatted plan (explain_str)."""
    return {
        "pushed_filters": "PushedFilters: []" not in plan and "PushedFilters:" in plan,
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "cartesian": "CartesianProduct" in plan,
        "bnl_join": "BroadcastNestedLoopJoin" in plan,
        # row-at-a-time Python: always a defect in this engine
        "python_eval": "BatchEvalPython" in plan,
        # vectorized Arrow scalar hop: allowed only for declared kernels
        "arrow_eval": "ArrowEvalPython" in plan,
        "pandas_groups": "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan,
        "exchanges": plan.count("Exchange"),
        # allowed only over provably bounded frames — gated by the
        # _UNPART_WINDOW_OK allowlist in tests/test_plans.py
        "unpartitioned_windows": count_unpartitioned_windows(plan),
    }
