"""Per-layer metrics of a traced run: spans, py4j counts, the event log and
``/proc`` samples, summed per traced pass and reported as the median over
traced passes. ``per_op`` gives the same attribution per operation (mean
over traced passes), so a record shows where each operation's time went.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import Tracer, read_event_log

UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_self_s": "s",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "queries.py4j_calls": "count",
    "proc.driver_cpu_s": "s",
    "operators.calls": "count",
    "operators.build_s": "s",
    "operators.jobs": "count",
    "operators.pin_calls": "count",
    "operators.local_checkpoints": "count",
    "sources.loads": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.slot_idle_frac": "frac",
    "plans.map_reduce.calls": "count",
    "plans.map_reduce_rdd.s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "proc.pyworker_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.jvm_peak_rss_mb": "MB",
    "trace.overhead_frac": "frac",
    "trace.unattributed_jobs": "count",
}

_PHASE_METRIC = {"build": "queries.build_s", "plan": "spark.plan_s", "exec": "spark.exec_s"}


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by a set of [start, end] millisecond intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


def per_layer(
    tracer: Tracer, log_dir: str, passes: list[dict], cores: int, session_start_s: float, jvm_rss_mb: float
) -> tuple[dict[str, tuple[float, str]], dict[str, dict[str, float]]]:
    jobs, stages = read_event_log(log_dir)
    traced = [p["tag"] for p in passes if p["traced"]]
    sums = {tag: defaultdict(float) for tag in traced}
    ops = defaultdict(lambda: defaultdict(float))

    def split(ctx: str | None):
        parts = (ctx or "").split("|")
        return parts if len(parts) == 3 and parts[0] in sums else (None, None, None)

    def add(ctx: str | None, metric: str, value: float = 1.0) -> None:
        tag, op, _ = split(ctx)
        if tag is not None:
            sums[tag][metric] += value
            ops[op][metric] += value / len(traced)

    for s in tracer.spans:
        wall = s.t1 - s.t0
        if s.kind == "phase":
            add(s.ctx, _PHASE_METRIC[s.name], wall)
        elif s.kind == "sources":
            add(s.ctx, "sources.loads")
            if s.depth == 0:
                add(s.ctx, "sources.load_s", wall)
        elif s.kind == "operators":
            add(s.ctx, "operators.calls")
            if s.depth == 0:
                add(s.ctx, "operators.build_s", wall)
            if s.name == "persist.pin":
                add(s.ctx, "operators.pin_calls")
        elif s.kind == "checkpoint":
            add(s.ctx, "operators.local_checkpoints")
        elif s.kind == "plans.map_reduce":
            add(s.ctx, "plans.map_reduce.calls")
        elif s.kind == "plans.map_reduce_rdd" and s.depth == 0:
            add(s.ctx, "plans.map_reduce_rdd.s", wall)
    for ctx, n in tracer.py4j.items():
        if split(ctx)[2] == "build":
            add(ctx, "queries.py4j_calls", n)

    unattributed = 0
    build_jobs = defaultdict(list)
    for job in jobs.values():
        if job.group not in tracer.groups:
            unattributed += 1
            continue
        _, _, phase = split(job.group)
        if phase == "build":
            add(job.group, "queries.build_jobs")
            build_jobs[job.group].append((job.submit_ms, job.end_ms))
        elif phase == "exec":
            add(job.group, "spark.exec_jobs")
        if job.layer == "operators":
            add(job.group, "operators.jobs")
        elif job.layer == "sources":
            add(job.group, "sources.load_jobs")
    for ctx, intervals in build_jobs.items():
        add(ctx, "queries.build_job_s", _union_s(intervals))

    exec_run_s = defaultdict(float)
    for st in stages.values():
        tag, _, phase = split(st.group)
        if tag is None:
            continue
        add(st.group, "spark.stages")
        add(st.group, "spark.tasks", st.tasks)
        add(st.group, "spark.executor_run_s", st.run_ms / 1000)
        add(st.group, "spark.executor_cpu_s", st.cpu_ns / 1e9)
        add(st.group, "spark.gc_s", st.gc_ms / 1000)
        add(st.group, "spark.shuffle_read_bytes", st.shuffle_read)
        add(st.group, "spark.shuffle_write_bytes", st.shuffle_write)
        add(st.group, "spark.spill_bytes", st.spill)
        add(st.group, "spark.python_bytes_sent", st.py_sent)
        add(st.group, "spark.python_bytes_received", st.py_received)
        if phase == "exec":
            exec_run_s[tag] += st.run_ms / 1000

    by_tag = {p["tag"]: p for p in passes}
    for tag, m in sums.items():
        m["queries.build_self_s"] = m["queries.build_s"] - m["queries.build_job_s"]
        exec_s = m["spark.exec_s"]
        m["spark.slot_idle_frac"] = 1 - exec_run_s[tag] / (exec_s * cores) if exec_s else 0.0
        cpu = by_tag[tag]["cpu"]
        m["proc.driver_cpu_s"] = cpu["driver"]
        m["proc.jvm_cpu_s"] = cpu["jvm"]
        m["proc.pyworker_cpu_s"] = cpu["pyworkers"]
    for m in ops.values():
        m["queries.build_self_s"] = m["queries.build_s"] - m["queries.build_job_s"]

    walls = {t: statistics.median(p["wall_s"] for p in passes if p["traced"] == t) for t in (True, False)}
    fixed = {
        "session.start_s": session_start_s,
        "proc.jvm_peak_rss_mb": jvm_rss_mb,
        "trace.overhead_frac": walls[True] / walls[False] - 1,
        "trace.unattributed_jobs": float(unattributed),
    }
    metrics = {}
    for name, unit in UNITS.items():
        value = fixed[name] if name in fixed else statistics.median(sums[t][name] for t in traced)
        metrics[name] = (value, unit)
    per_op = {op: {k: round(v, 6) for k, v in sorted(m.items())} for op, m in sorted(ops.items())}
    return metrics, per_op
