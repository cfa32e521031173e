"""Attribution tests of the traced run, on generated tables at sf0.001: every
Spark job maps to one (pass, operation, phase), the iterative query's
construction-time jobs are seen, a plain scan pins nothing, a query without
an oracle passes its repeat check, and a job run outside any phase is
counted as unattributed.

    python3 -m pytest perfbench/test_attribution.py -q
"""

from run import CORES, Bench, prepare_environment, session_conf
from tracing import Tracer, read_event_log
from workloads import Registry


def test_every_job_is_attributed(tmp_path):
    prepare_environment(tmp_path)
    workload = Registry(["q1_pricing_summary", "label_propagation_communities", "minhash_dedup_pairs"], sf=0.001)
    record, result = Bench("attribution", workload, seed=1, seconds=0, trace=True, tmp=tmp_path).run()

    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert metrics["trace.unattributed_jobs"]["value"] == 0
    assert metrics["sources.load_jobs"]["value"] > 0
    assert metrics["spark.exec_jobs"]["value"] > 0
    per_op = record["per_op"]
    assert per_op["label_propagation_communities"]["queries.build_jobs"] > 0
    assert per_op["label_propagation_communities"]["operators.pin_calls"] > 0
    assert per_op["q1_pricing_summary"].get("operators.pin_calls", 0) == 0


def test_job_between_phases_is_unattributed(tmp_path):
    prepare_environment(tmp_path)
    from mapreducefw_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", cpus=CORES, extra_conf=session_conf(tmp_path, True))
    tracer = Tracer()
    tracer.attach(spark)
    try:
        with tracer.phase("p0", "op", "exec"):
            spark.range(4).collect()
        spark.range(4).collect()
    finally:
        spark.stop()
    jobs, _ = read_event_log(str(tmp_path / "eventlog"))
    assert sorted(job.group in tracer.groups for job in jobs.values()) == [False, True]
