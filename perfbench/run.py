"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 6 --trace 0

Runs one workload on one driver process with a ``local[4]`` session: set-up
(session start, ``load_all``, input generation, one untimed warm-up pass
that also collects each output, and the workload's further untimed
``settle`` passes), then timed passes over the operations in a
seeded order until ``--seconds`` have passed, then the untimed output check.
The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end ones: set-up wall time,
and the CPU time of the passes and operations in multiples of the CPU time
of the yardstick job run after each pass (``yardstick.py``); the same
statistics in seconds are in the run record. With ``--trace 1``
the passes go untraced, traced, traced, untraced, and the metrics are the
per-layer ones from the traced passes. The line before it holds the run's
details; the same record, with spans, is written under ``.perfbench/runs``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
CORES = 4
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(tmp: Path) -> None:
    """Keep every file the run writes inside ``tmp`` and let Python workers,
    started from any directory, import the program and ``mrjobs``."""
    for sub in ("local", "warehouse", "eventlog", "data"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), str(BENCH_DIR)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp / "local"),
        SPARK_WAREHOUSE_DIR=str(tmp / "warehouse"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # every JVM, spark-submit's launcher too, skips its hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    sys.path[:0] = [str(ROOT), str(BENCH_DIR)]


def session_conf(tmp: Path, event_log: bool) -> dict[str, str]:
    """Spark settings of the run: JVM temp files under ``tmp``, and with
    ``event_log`` an uncompressed event log in ``tmp/eventlog``. The JVM
    compiles with C1 only: C2 recompiles Spark's generated code throughout a
    run, which took 40% of the JVM's CPU in every pass and shrank from pass
    to pass, drowning the program's own CPU time."""
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1"}
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest sample percentile that still has
    at least ten samples above it; the maximum when there are too few."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


class Bench:
    def __init__(self, name: str, workload, seed: int, seconds: float, trace: bool, tmp: Path):
        self.name, self.workload = name, workload
        self.seed, self.seconds, self.trace, self.tmp = seed, seconds, trace, tmp
        self.tracer = None
        self.failures: dict[str, int] = {}  # timed executions that raised, per operation

    def _phase(self, pass_tag: str, op: str, phase: str):
        from contextlib import nullcontext

        return self.tracer.phase(pass_tag, op, phase) if self.tracer else nullcontext()

    def _timed(self, op, pass_tag: str, traced: bool) -> tuple[float, float]:
        """(wall seconds, CPU seconds of driver, JVM and Python workers) of one operation."""
        cpu0 = sum(self.procs.sample().values())
        t0 = time.perf_counter()
        if op.collects:
            with self._phase(pass_tag, op.name, "exec"):
                op.fn()
        else:
            with self._phase(pass_tag, op.name, "build"):
                df = op.fn()
            if traced:
                with self._phase(pass_tag, op.name, "plan"):
                    df._jdf.queryExecution().executedPlan()
            with self._phase(pass_tag, op.name, "exec"):
                df.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        return wall, sum(self.procs.sample().values()) - cpu0

    def _yardstick(self, spark, tag: str) -> float:
        """CPU seconds of one run of the yardstick job."""
        import yardstick

        cpu0 = sum(self.procs.sample().values())
        with self._phase(tag, "yardstick", "exec"):
            yardstick.run(spark, self.workload.python)
        return sum(self.procs.sample().values()) - cpu0

    def run(self) -> tuple[dict, dict]:
        from mapreducefw_spark.session import get_spark
        from tracing import ProcSampler, Tracer, host_steal_s
        from workloads import collect

        conf = session_conf(self.tmp, self.trace)
        if self.trace:
            self.tracer = Tracer()
            self.tracer.wrap_layers()
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=CORES, extra_conf=conf)
        session_start_s = time.perf_counter() - t
        if self.tracer:
            self.tracer.attach(spark)
        sc = spark.sparkContext
        procs = self.procs = ProcSampler(sc._gateway.proc.pid)
        partitions_at_start = spark.conf.get("spark.sql.shuffle.partitions")

        from mapreducefw_spark.queries import load_all

        t = time.perf_counter()
        load_all()
        load_all_s = time.perf_counter() - t
        ops = self.workload.setup(spark, str(self.tmp / "data"), self.seed)
        inputs_s = time.perf_counter() - t - load_all_s

        t = time.perf_counter()
        outputs, partitions_after_first = {}, None
        for op in ops:
            try:
                with self._phase("warmup", op.name, "collect"):
                    outputs[op.name] = collect(op)
            except Exception:  # the op then has no output, and fails its check
                traceback.print_exc()
            if partitions_after_first is None:
                partitions_after_first = spark.conf.get("spark.sql.shuffle.partitions")
        for _ in range(2):  # its first runs still compile its classes and start its Python workers
            self._yardstick(spark, "warmup")
        for i in range(self.workload.settle):
            for op in ops:
                spark.catalog.clearCache()
                try:
                    self._timed(op, f"settle{i}", False)
                except Exception:  # the timed passes then fail too, and count it
                    traceback.print_exc()
            self._yardstick(spark, f"settle{i}")
        setup_s = time.perf_counter() - T0
        setup_parts = {"session_start_s": session_start_s, "load_all_s": load_all_s,
                       "inputs_s": inputs_s, "warmup_s": time.perf_counter() - t}

        samples: list[float] = []  # CPU per (operation, untraced pass), in yardsticks
        op_times = {op.name: {"wall_s": [], "cpu_s": []} for op in ops}
        passes: list[dict] = []
        t_measure = time.perf_counter()
        # Passes come in blocks, so the pass count, and with it the medians,
        # does not depend on how fast the host is. A traced run's blocks go
        # untraced, traced, traced, untraced, so passes that still speed up
        # favour neither side.
        block = 4 if self.trace else self.workload.passes
        while len(passes) < block or len(passes) % block or time.perf_counter() - t_measure < self.seconds:
            i = len(passes)
            traced = self.trace and i % 4 in (1, 2)
            order = list(ops)
            random.Random(self.seed * 7919 + i).shuffle(order)
            tag = f"p{i}"
            if self.tracer:
                self.tracer.active = traced
            pass_cpu = []
            cpu0, steal0, w0 = procs.sample(), host_steal_s(), time.perf_counter()
            for op in order:
                spark.catalog.clearCache()
                try:
                    wall, cpu = self._timed(op, tag, traced)
                except Exception:
                    traceback.print_exc()
                    self.failures[op.name] = self.failures.get(op.name, 0) + 1
                    continue
                if not traced:
                    pass_cpu.append(cpu)
                    op_times[op.name]["wall_s"].append(wall)
                    op_times[op.name]["cpu_s"].append(cpu)
            wall, cpu1, steal = time.perf_counter() - w0, procs.sample(), host_steal_s() - steal0
            if self.tracer:
                self.tracer.active = False
            ref = self._yardstick(spark, f"y{i}")
            samples.extend(c / ref for c in pass_cpu)
            passes.append({"tag": tag, "traced": traced, "wall_s": wall, "host_steal_s": steal,
                           "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}, "yardstick_cpu_s": ref})

        verdicts = {}
        try:
            with self._phase("check", "all", "collect"):
                verdicts = self.workload.check([op for op in ops if op.name in outputs], outputs)
        except Exception:
            traceback.print_exc()
        for op in ops:
            if op.name not in verdicts:
                verdicts[op.name] = "no checked output"

        config = {
            "master": sc.master,
            "cores": sc.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "aqe": {k: spark.conf.get(f"spark.sql.adaptive.{k}") for k in
                    ("enabled", "coalescePartitions.enabled", "skewJoin.enabled")},
            "shuffle_partitions_at_start": partitions_at_start,
            "shuffle_partitions_after_first_query": partitions_after_first,
            "spark_version": spark.version,
            "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
            "python_version": sys.version.split()[0],
        }
        jvm_rss = procs.jvm_peak_rss_mb()
        spark.stop()

        timed = [p for p in passes if not p["traced"]]
        n_ops = len(ops)
        attempted = n_ops * len(passes)
        bad_ops = {n for n, v in verdicts.items() if v is not None}
        failed = sum(self.failures.get(n, 0) for n in {op.name for op in ops} - bad_ops)
        failed += len(passes) * len(bad_ops)
        value, pct, n = tail(samples)
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "suite_cpu_x": (statistics.median(sum(p["cpu"].values()) / p["yardstick_cpu_s"] for p in timed), "x"),
            "query_cpu_p50_x": (statistics.median(samples), "x"),
            "query_cpu_tail_x": (value, "x"),
        }
        walls = [w for o in op_times.values() for w in o["wall_s"]]
        cpus = [c for o in op_times.values() for c in o["cpu_s"]]
        record = {
            "workload": self.name, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.trace), "session": config, "setup": setup_parts,
            "passes": passes, "op_times": op_times, "query_cpu_tail": {"percentile": pct, "samples": n},
            # the same statistics in seconds, which the host's load moves
            "seconds": {"suite_s": statistics.median(p["wall_s"] for p in timed),
                        "query_p50_s": statistics.median(walls), "query_tail_s": tail(walls)[0],
                        "suite_cpu_s": statistics.median(sum(p["cpu"].values()) for p in timed),
                        "query_cpu_p50_s": statistics.median(cpus), "query_cpu_tail_s": tail(cpus)[0],
                        "yardstick_cpu_s": statistics.median(p["yardstick_cpu_s"] for p in timed)},
            "verdicts": {k: v for k, v in verdicts.items() if v is not None},
            "op_failures": self.failures,
            "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        }
        metrics = end_to_end
        if self.trace:
            from layers import per_layer

            layer_metrics, per_op = per_layer(self.tracer, str(self.tmp / "eventlog"), passes, CORES,
                                              session_start_s, jvm_rss)
            record["per_op"] = per_op
            record["spans"] = [vars(s) for s in self.tracer.spans]
            metrics = layer_metrics
        record["metrics"] = {k: v for k, (v, _) in metrics.items()}
        result = {
            "correct": not bad_ops and not self.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return record, result


def stop_jvm(timeout_s: float = 60) -> None:
    """End the JVM that pyspark launched, which ``spark.stop()`` leaves
    running, and wait for it and its Python workers to exit. The JVM exits
    when its stdin closes."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    if gateway is None:
        return
    workers = descendants(gateway.proc.pid)
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{pid}") for pid in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "mapreducefw_spark" / "__init__.py").is_file():
        print(f"perfbench: no mapreducefw_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench"
    tmp = work / f"tmp-{os.getpid()}"
    prepare_environment(tmp)
    from workloads import WORKLOADS

    bench = Bench(args.workload, WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), tmp)
    try:
        record, result = bench.run()
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    runs = work / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(record))
    print(json.dumps({k: v for k, v in record.items() if k != "spans"}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
