"""Pin the schema of the run record that tools/layer_profile.py prints: per-query
layers from perfbench's tracer, a stage list per query, and the oracle
verdicts, for one Catalyst-only query and one that runs jobs and pins its
state while it is built. Also pin how ``--shuffle-md`` rewrites SHUFFLE.md."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from layer_profile import shuffle_md  # noqa: E402

TIMEOUT_S = 600  # about 50 s on a 4-core host

PER_OP_KEYS = {
    "queries.build_s", "queries.build_self_s", "queries.build_jobs", "queries.build_job_s",
    "queries.py4j_calls", "operators.calls", "operators.build_s", "operators.jobs",
    "operators.pin_calls", "operators.local_checkpoints", "sources.loads", "sources.load_s",
    "sources.load_jobs", "spark.plan_s", "spark.exec_s", "spark.exec_jobs", "spark.stages",
    "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "plans.map_reduce.calls", "plans.map_reduce_rdd.s", "spark.python_bytes_sent",
    "spark.python_bytes_received",
}
STAGE_KEYS = {"stage", "phase", "tasks", "run_s", "cpu_s", "shuffle_read", "shuffle_write"}
Q1, LPA = "q1_pricing_summary", "label_propagation_communities"


@pytest.fixture(scope="module")
def record():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "layer_profile.py"), Q1, LPA, "--sf", "0.001"],
        cwd=REPO, capture_output=True, text=True, timeout=TIMEOUT_S,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_every_query_carries_the_per_layer_keys(record):
    assert set(record["per_op"]) == {Q1, LPA}
    for name, layers in record["per_op"].items():
        assert set(layers) == PER_OP_KEYS, name
    assert "spans" not in record


def test_construction_jobs_and_pins_are_attributed(record):
    lpa, q1 = record["per_op"][LPA], record["per_op"][Q1]
    assert lpa["queries.build_jobs"] > 0
    assert lpa["operators.pin_calls"] > 0
    assert q1["operators.pin_calls"] == 0
    assert q1["queries.build_jobs"] == 0
    assert q1["spark.exec_jobs"] > 0


def test_stage_lists_match_the_layers(record):
    for name in (Q1, LPA):
        stages = record["stages"][name]
        assert stages and all(set(s) == STAGE_KEYS for s in stages)
        assert sum(s["tasks"] for s in stages) > 0
    assert {s["phase"] for s in record["stages"][LPA]} >= {"build", "exec"}


def test_walls_cpu_verdicts_and_session(record):
    assert record["verdicts"] == {}
    assert record["op_failures"] == {}
    for name in (Q1, LPA):
        times = record["op_times"][name]
        assert len(times["wall_s"]) == len(times["cpu_s"]) == 2
    assert record["session"]["cores"] == 4
    assert record["session"]["driver_memory"]


def test_shuffle_md_measures_every_row_and_shows_failures(tmp_path):
    for table, size in (("lineitem", 2_000_000), ("orders", 600_000), ("customer", 400_000)):
        (tmp_path / f"{table}.parquet").write_bytes(bytes(size))
    md = (
        "# SHUFFLE — old title\n\nprose stays\n\n"
        "| query | tables | input on disk | shuffle write | shuffle/input | why it matters |\n"
        "|---|---|---|---|---|---|\n"
        "| a | lineitem | old | old | old | why a |\n"
        "| b | orders, customer | old | old | old | why b |\n"
        "| c | lineitem | old | old | old | why c |\n"
    )
    rows = [[c.strip() for c in line.strip("|").split("|")] for line in md.splitlines()[6:]]
    record = {
        "session": {"cores": 4, "driver_memory": "2g"},
        "verdicts": {"b": "row count 1 != 2"},
        "op_failures": {"c": 2},
        "per_op": {n: {"spark.shuffle_write_bytes": 1_000_000.0} for n in "abc"},
    }
    out = shuffle_md(md, rows, record, tmp_path, 0.1).splitlines()
    assert out[0] == ("# SHUFFLE — bytes shuffled vs on-disk input per query "
                      "(tools/layer_profile.py --shuffle-md, sf0.1, 4 cores, driver memory 2g)")
    assert out[1:6] == md.splitlines()[1:6]
    assert out[6:] == [
        "| a | lineitem | 2.000 MB | 1.000 MB | 0.500 | why a |",
        "| b | orders, customer | 1.000 MB | failed: row count 1 != 2 | failed | why b |",
        "| c | lineitem | 2.000 MB | failed: raised | failed | why c |",
    ]
