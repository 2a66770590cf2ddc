"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-vs-oracle first (UTC session timezone so
parquet timestamps compare bit-identically with DuckDB's naive reads) and for
scale second: AQE on (runtime coalescing, skew-join splitting), Arrow enabled
for the pandas-UDF kernels, and shuffle partitions equal to the session's
task slots (``sparkContext.defaultParallelism``).

Three environment variables are read, all here: ``SPARK_GRAFT_CPUS`` (the
local master's task slots), ``SPARK_GRAFT_DRIVER_MEM`` (driver heap) and
``SPARK_GRAFT_EXTRA_CONFS`` (launch-time confs applied last, the A/B hook;
a ``spark.sql.shuffle.partitions`` there wins over the slot count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


SHUFFLE_PARTITIONS_CONF = "spark.sql.shuffle.partitions"


def positive_int(name: str, raw: str) -> int:
    """``raw`` parsed as a positive integer; ValueError naming ``name`` if not.

    The slot knob is checked here, before a JVM starts: a bad
    ``SPARK_GRAFT_CPUS`` otherwise surfaces as an opaque master-URL error
    from the JVM."""
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return value


def get_spark(
    app_name: str = "profitscout-engine-spark", master: str | None = None
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) when
    no active session exists. ``spark.sql.shuffle.partitions`` is the started
    session's task slots (``sparkContext.defaultParallelism``) unless
    ``SPARK_GRAFT_EXTRA_CONFS`` sets it — the figure every explicit
    ``repartition`` in the engine already uses, so a 4-slot box does not run
    each shuffle stage as 8 waves of near-empty tasks. On a real cluster the
    caller's session wins: if a session is already active we return it
    untouched except for session-scoped confs (timezone, AQE) that are safe
    to set at runtime.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        _apply_runtime_confs(active)
        return active

    raw_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = 32 if raw_cpus is None else positive_int("SPARK_GRAFT_CPUS", raw_cpus)

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    # A/B experiment hook (round-11 optimization): semicolon-separated
    # key=value pairs applied LAST, so a measurement run can flip one conf
    # without editing source. Production-default confs chosen from those
    # experiments are set explicitly above / in _apply_runtime_confs.
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            confs[k.strip()] = v.strip()

    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if SHUFFLE_PARTITIONS_CONF not in confs:
        spark.conf.set(SHUFFLE_PARTITIONS_CONF, str(spark.sparkContext.defaultParallelism))
    _apply_runtime_confs(spark)
    return spark


def _apply_runtime_confs(spark: SparkSession) -> None:
    """Session-scoped confs that must hold regardless of who built the session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Silence WindowExec's "No Partition Defined" WARN flood: every
    # unpartitioned window in this engine sits over a provably BOUNDED
    # frame (day spines, <=NUM_BUCKETS bucket tables, literal lag spines)
    # — enforced structurally by the _UNPART_WINDOW_OK allowlist gate in
    # tests/test_plans.py, which is the correct detector; the blanket WARN
    # only buries real signals in the driver log (VERDICT r6). StringUtils
    # WARNs "Truncated the string representation of a plan" on every action
    # whose plan exceeds the deliberate maxPlanStringLength cap set below —
    # two lines per graph-query action, silenced for the same reason.
    try:
        jvm = spark.sparkContext._jvm
        for logger in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.catalyst.util.StringUtils",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:
        pass  # non-log4j2 deployments keep the default logging
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Every action renders the FULL physical-plan string for the
    # SparkListenerSQLExecutionStart event — even with the UI disabled, and
    # including the complete child plans of every InMemoryRelation the query
    # references. For the shared-frame/iterative queries those trees reach
    # 10^4 rendered lines and the per-action rendering (TreeNode
    # generateTreeString → nodeName regex per node) measurably dominates:
    # incremental_lpa_delta's cached-everything re-execution dropped
    # 3.9 s → 2.0 s from this cap alone (r11 isolate, best-of-3). The
    # description string is observability payload, not computation — capping
    # it is the documented remedy for giant-plan driver overhead (guide
    # §7.3) and scales: at 100 TB the trees are the same size, the cluster
    # just waits on the driver longer. Plan-quality gates are unaffected:
    # explain_str() (the one renderer of every plan the repo reads: PLANS.json,
    # DRIVER_STATE, the CLI explain, the plan tests) lifts the cap around its
    # explain call.
    spark.conf.set("spark.sql.maxPlanStringLength", "4096")
    # Serve bare MIN/MAX/COUNT aggregations from parquet footer statistics
    # instead of scanning data pages (off by default; pure win for the
    # idempotency-guard / catalog-introspection style probes).
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # Idempotent daily re-runs overwrite only the partitions present in the
    # written frame (reference: DELETE-partition-then-append daily pattern).
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
