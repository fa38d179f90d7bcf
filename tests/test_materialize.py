"""``operators.materialize.pin``: the local-vs-reliable checkpoint choice
made in one place."""

from __future__ import annotations

import pytest

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.materialize import (
    pin,
    reliable_default,
)


def test_pin_reliable_checkpoint_roundtrip(spark, tmp_path, monkeypatch):
    """Default is the pre-knob localCheckpoint; ``reliable=True`` routes
    to replicated ``checkpoint()`` (checkpoint dir required); the env
    switch flips the registered-query default.  Both forms are
    value-identical."""
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    assert reliable_default() is False
    local = pin(spark.range(10))
    assert sorted(r.id for r in local.collect()) == list(range(10))
    assert "LogicalRDD" in local._jdf.queryExecution().optimizedPlan().toString()

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    rel = pin(spark.range(10), reliable=True)
    assert sorted(r.id for r in rel.collect()) == list(range(10))
    assert "LogicalRDD" in rel._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    assert reliable_default() is True


def test_pin_reliable_without_checkpoint_dir_names_the_settings(spark, monkeypatch):
    """A reliable checkpoint with no checkpoint directory fails up front
    with a message naming the env switch and ``setCheckpointDir``; the
    local default needs no directory."""
    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
    with pytest.raises(ValueError, match="SPARK_GRAFT_RELIABLE_CHECKPOINT.*setCheckpointDir"):
        pin(spark.range(3), reliable=True)
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    with pytest.raises(ValueError, match="setCheckpointDir"):
        pin(spark.range(3))
    assert pin(spark.range(3), reliable=False).count() == 3
