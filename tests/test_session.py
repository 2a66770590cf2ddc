"""Session sizing: shuffle parallelism follows the session's task slots, the
slot and shuffle env knobs fail fast before a JVM starts, and plan capture
pins its own partition count so captured plan shas stay comparable."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from profitscout_engine_spark import session
from profitscout_engine_spark.plans import CAPTURE_SHUFFLE_PARTITIONS

KNOBS = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE")


def test_shuffle_partitions_equal_task_slots(spark):
    if os.environ.get("SPARK_GRAFT_SHUFFLE") or os.environ.get("SPARK_GRAFT_EXTRA_CONFS"):
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


def test_plan_capture_pins_32_partitions(monkeypatch, tmp_path):
    import plans_snapshot

    seen = {}

    def fake_get_spark(**kwargs):
        seen.update(kwargs)
        return object()

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    plans_snapshot.worker([], str(tmp_path / "flags.json"))
    assert CAPTURE_SHUFFLE_PARTITIONS == 32
    assert seen["shuffle_partitions"] == CAPTURE_SHUFFLE_PARTITIONS
