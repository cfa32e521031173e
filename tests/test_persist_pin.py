"""``operators.persist.pin`` picks the materialization by deployment: the
cluster branches are checked with a mocked non-local master."""

from __future__ import annotations

import pytest

from mapreducefw_spark.operators.persist import pin


@pytest.fixture
def chosen(spark, monkeypatch):
    """Record which checkpoint method ``pin`` calls instead of running it."""
    calls = []
    frame_type = type(spark.range(1))

    def record(name):
        def method(self, eager=True):
            calls.append((name, eager))
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
    ],
)
def test_pin_branch(spark, monkeypatch, chosen, master, checkpoint_dir, expected):
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "master", master)
    monkeypatch.setattr(sc, "getCheckpointDir", lambda: checkpoint_dir)
    df = spark.range(3)
    assert pin(df) is df
    assert pin(df, eager=True) is df
    assert chosen == [(expected, False), (expected, True)]
