"""Session sizing: shuffle parallelism follows the session's task slots, the
slot env knob fails fast before a JVM starts, only the session factory reads
the environment, and plan capture pins its own partition count so captured
plan shas stay comparable."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from profitscout_engine_spark import session
from profitscout_engine_spark.plans import CAPTURE_SHUFFLE_PARTITIONS, capture_plan

KNOBS = ("SPARK_GRAFT_CPUS",)
PKG = Path(session.__file__).parent


def test_shuffle_partitions_equal_task_slots(spark):
    if os.environ.get("SPARK_GRAFT_EXTRA_CONFS"):
        pytest.skip("shuffle partitions overridden from the environment")
    slots = spark.sparkContext.defaultParallelism
    assert spark.conf.get(session.SHUFFLE_PARTITIONS_CONF) == str(slots)


@pytest.mark.parametrize("knob", KNOBS)
@pytest.mark.parametrize("raw", ["0", "-1", "abc", ""])
def test_knob_rejects_non_positive_integers(knob, raw):
    with pytest.raises(ValueError, match=knob):
        session.positive_int(knob, raw)


def test_knob_accepts_positive_integers():
    assert session.positive_int("SPARK_GRAFT_CPUS", "4") == 4


@pytest.mark.parametrize("knob", KNOBS)
def test_bad_knob_raises_before_building_a_session(knob, monkeypatch):
    def no_build(*args, **kwargs):
        raise AssertionError("a session builder ran despite a bad knob")

    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_build)
    monkeypatch.setenv(knob, "0")
    with pytest.raises(ValueError, match=knob):
        session.get_spark()


def test_capture_plan_pins_32_partitions_around_the_build(spark):
    seen = []

    def build(spark, sf_dir):
        seen.append(spark.conf.get(session.SHUFFLE_PARTITIONS_CONF))
        return spark.range(1)

    own = spark.conf.get(session.SHUFFLE_PARTITIONS_CONF)
    capture_plan(spark, build, "unused")
    assert CAPTURE_SHUFFLE_PARTITIONS == 32
    assert seen == ["32"]
    assert spark.conf.get(session.SHUFFLE_PARTITIONS_CONF) == own


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _environ_reads(tree: ast.AST) -> list[str | None]:
    """The variable named by each environment access in ``tree``; None for
    an access whose name is not a string literal (``in``, ``**``, a loop)."""
    keyed, reads = set(), []
    for node in ast.walk(tree):
        target = key = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            target, key = node.value, node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "getenv":
                target, key = node.func, node.args[0] if node.args else None
            elif _is_environ(node.func.value):
                target, key = node.func.value, node.args[0] if node.args else None
        if target is not None:
            keyed.add(id(target))
            reads.append(key.value if isinstance(key, ast.Constant) else None)
    reads += [None for n in ast.walk(tree) if _is_environ(n) and id(n) not in keyed]
    return reads


def test_only_session_reads_the_environment():
    allowed = {
        "session.py": {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_EXTRA_CONFS"},
        "__main__.py": {"SPARK_GRAFT_SF_DIR"},
    }
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        reads = _environ_reads(ast.parse(path.read_text()))
        if reads:
            found[str(path.relative_to(PKG))] = set(reads)
    assert found == allowed
