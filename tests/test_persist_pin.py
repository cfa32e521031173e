"""``operators.persist.pin`` picks the materialization by deployment: the
cluster branches are checked with a mocked non-local master."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from mapreducefw_spark.operators.persist import pin
from mapreducefw_spark.session import is_local_master


@pytest.fixture
def chosen(spark, monkeypatch):
    """Record which checkpoint method ``pin`` calls, and whether the frame
    it is called on is persisted, instead of running it."""
    calls = []
    frame_type = type(spark.range(1))

    def record(name):
        def method(self, eager=True):
            calls.append((name, eager, self.storageLevel != StorageLevel.NONE))
            return self

        return method

    monkeypatch.setattr(frame_type, "checkpoint", record("checkpoint"))
    monkeypatch.setattr(frame_type, "localCheckpoint", record("localCheckpoint"))
    return calls


@pytest.mark.parametrize(
    "master, checkpoint_dir, expected",
    [
        ("local[8]", "/ckpt", "localCheckpoint"),
        ("spark://cluster:7077", "/ckpt", "checkpoint"),
        ("spark://cluster:7077", None, "localCheckpoint"),
        # separate executor JVMs: a local checkpoint dies with one of them
        ("local-cluster[2,1,1024]", "/ckpt", "checkpoint"),
        ("local-cluster[2,1,1024]", None, "localCheckpoint"),
    ],
)
def test_pin_branch(spark, monkeypatch, chosen, master, checkpoint_dir, expected):
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "master", master)
    monkeypatch.setattr(sc, "getCheckpointDir", lambda: checkpoint_dir)
    df = spark.range(3)
    try:
        assert pin(df) is df
        # a reliable checkpoint reads a persisted frame, so writing its
        # files does not recompute the lineage; a local one is untouched
        reliable = expected == "checkpoint"
        assert chosen == [(expected, False, reliable)]
        assert pin(df, eager=True) is df
        assert chosen[1] == (expected, True, reliable)
        # an eager pin has written its files: the cache is released
        assert df.storageLevel == StorageLevel.NONE
    finally:
        df.unpersist()


def test_get_spark_cleans_checkpoints(spark):
    """Superseded round checkpoints are deleted once unreferenced."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[8]", True),
        ("local[*]", True),
        ("local[4,2]", True),
        ("local[*, 3]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://cluster:7077", False),
        ("yarn", False),
    ],
)
def test_is_local_master(spark, monkeypatch, master, local):
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "master", master)
    assert is_local_master(sc) is local
