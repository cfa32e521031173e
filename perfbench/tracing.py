"""Tracing for the traced run, measured from outside the program.

- ``Tracer.phase`` puts every Spark job of one (pass, operation, phase) in
  its own job group, and times the phase.
- A counter wrapped around the py4j gateway client's ``send_command`` counts
  driver-to-JVM calls per phase.
- Timing wrappers around the public layer entry points (``sources.tables
  .table``, the public functions of ``operators.*``, the two MapReduce
  adapters, ``DataFrame.localCheckpoint``/``checkpoint``) record spans and
  tag the jobs they start with the local property ``perfbench.layer``.
- ``read_event_log`` parses Spark's event log after ``spark.stop()``;
  ``ProcSampler`` reads CPU and RSS of the driver, the JVM and its Python
  workers from ``/proc``.

Spans stay in memory until the run ends.
"""

from __future__ import annotations

import copy
import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

LAYER_PROP = "perfbench.layer"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    ctx: str  # job group of the enclosing phase: "<pass>|<operation>|<phase>"
    kind: str  # "phase", "sources", "operators", "plans.map_reduce", ...
    name: str
    depth: int  # how many wrapped calls of the same kind enclose this one
    t0: float
    t1: float


class _Wrapped:
    """A timing wrapper around a program function. It pickles as the
    original function, so executors never see the tracer."""

    def __init__(self, tracer: Tracer, fn, kind: str, name: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._kind, self._name = tracer, fn, kind, name

    def __call__(self, *args, **kwargs):
        if not self._tracer.active:
            return self._fn(*args, **kwargs)
        return self._tracer.call_span(self._kind, self._name, self._fn, args, kwargs)

    def __reduce__(self):
        return copy.copy, (self._fn,)


class Tracer:
    def __init__(self) -> None:
        self.active = False  # spans and py4j counts are recorded only when set
        self.spans: list[Span] = []
        self.py4j: dict[str, int] = defaultdict(int)
        self.groups: set[str] = set()  # every job group this tracer set
        self._ctx: str | None = None
        self._layers: list[str] = []  # layer property stack of active spans
        self._own = False  # inside the tracer's own py4j calls
        self._sc = None

    # -- installation ---------------------------------------------------
    def wrap_layers(self) -> None:
        """Replace the layer entry points with timing wrappers. Call before
        ``load_all()`` so query modules bind the wrapped names."""
        import mapreducefw_spark.operators as ops_pkg
        from pyspark.sql import DataFrame

        # the plans package re-exports the function `map_reduce` under its
        # module's name, so the modules are looked up by their full names
        tables, map_reduce, map_reduce_rdd = (importlib.import_module(f"mapreducefw_spark.{m}") for m in (
            "sources.tables", "plans.map_reduce", "plans.map_reduce_rdd"))
        targets = [
            (tables, "table", "sources", "tables.table"),
            (map_reduce, "map_reduce", "plans.map_reduce", "map_reduce"),
            (map_reduce_rdd, "run_map_reduce", "plans.map_reduce_rdd", "run_map_reduce"),
        ]
        for info in pkgutil.iter_modules(ops_pkg.__path__):
            mod = importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
            for attr, fn in vars(mod).items():
                if not attr.startswith("_") and inspect.isfunction(fn) and fn.__module__ == mod.__name__:
                    targets.append((mod, attr, "operators", f"{info.name}.{attr}"))
        swapped = {}
        for mod, attr, kind, name in targets:
            fn = getattr(mod, attr)
            swapped[id(fn)] = (fn, _Wrapped(self, fn, kind, name))
            setattr(mod, attr, swapped[id(fn)][1])
        # names that already-imported program modules bound with `from ... import`
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("mapreducefw_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                hit = swapped.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])
        for meth in ("localCheckpoint", "checkpoint"):
            orig = getattr(DataFrame, meth)
            setattr(DataFrame, meth, self._method_counter(orig, meth))

    def _method_counter(self, orig, name: str):
        tracer = self

        @functools.wraps(orig)
        def counted(df, *args, **kwargs):
            if not tracer.active:
                return orig(df, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(df, *args, **kwargs)
            finally:
                tracer.spans.append(Span(tracer._ctx or "", "checkpoint", name, 0, t0, time.perf_counter()))

        return counted

    def attach(self, spark) -> None:
        """Count py4j round trips of the session's gateway client."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self.active and not self._own and self._ctx is not None:
                self.py4j[self._ctx] += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    # -- spans -----------------------------------------------------------
    def _set_prop(self, key: str, value: str | None) -> None:
        self._own = True
        try:
            self._sc.setLocalProperty(key, value)
        finally:
            self._own = False

    @contextmanager
    def phase(self, pass_tag: str, op: str, phase: str):
        """Job group and span for one phase of one operation."""
        ctx = f"{pass_tag}|{op}|{phase}"
        self.groups.add(ctx)
        self._own = True
        try:
            self._sc.setJobGroup(ctx, ctx)
        finally:
            self._own = False
        self._ctx = ctx
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.active:
                self.spans.append(Span(ctx, "phase", phase, 0, t0, time.perf_counter()))
            self._ctx = None
            # a job started between phases then has no group and counts as unattributed
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self._set_prop(key, None)

    def call_span(self, kind: str, name: str, fn, args, kwargs):
        depth = self._layers.count(kind)
        outer = self._layers[-1] if self._layers else None
        if kind != outer:
            self._set_prop(LAYER_PROP, kind)
        self._layers.append(kind)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._layers.pop()
            if kind != outer:
                self._set_prop(LAYER_PROP, outer)
            self.spans.append(Span(self._ctx or "", kind, name, depth, t0, t1))


# -- event log -------------------------------------------------------------
@dataclass
class Job:
    group: str | None
    layer: str | None
    submit_ms: int
    end_ms: int = 0


@dataclass
class Stage:
    group: str | None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    py_sent: int = 0
    py_received: int = 0


PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and executed stages from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        props.get("spark.jobGroup.id"), props.get(LAYER_PROP), ev["Submission Time"]
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stages[ev["Stage Info"]["Stage ID"]] = Stage(props.get("spark.jobGroup.id"))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if st is None or not m:
                        continue
                    st.tasks += 1
                    st.run_ms += m["Executor Run Time"]
                    st.cpu_ns += m["Executor CPU Time"]
                    st.gc_ms += m["JVM GC Time"]
                    sr = m["Shuffle Read Metrics"]
                    st.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    st.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.get(info["Stage ID"])
                    for acc in info.get("Accumulables", []) if st else []:
                        if acc.get("Name") == PY_SENT:
                            st.py_sent += int(acc["Value"])
                        elif acc.get("Name") == PY_RECEIVED:
                            st.py_received += int(acc["Value"])
    return jobs, stages


# -- /proc -----------------------------------------------------------------
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    return s[s.rindex(")") + 2 :].split()  # fields from "state" on


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over all CPUs:
    how much of a run's slowness came from outside the machine."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def _process_table() -> tuple[dict[int, list[str]], dict[int, list[int]]]:
    """Stat fields of every live process, and the children of each."""
    stats, children = {}, defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
                children[int(st[1])].append(int(entry))
    return stats, children


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``."""
    _, children = _process_table()
    found, todo = [], list(children[pid])
    while todo:
        found.append(todo.pop())
        todo.extend(children[found[-1]])
    return found


class ProcSampler:
    """CPU seconds of the driver, the JVM and the JVM's Python-worker
    descendants; exited workers are counted through their parents'
    reaped-children times."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def sample(self) -> dict[str, float]:
        t = os.times()
        jvm = _stat(self.jvm_pid)
        stats, children = _process_table()
        workers = 0
        todo = list(children[self.jvm_pid])
        while todo:
            pid = todo.pop()
            workers += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
            todo.extend(children[pid])
        return {
            "driver": t.user + t.system,
            "jvm": (int(jvm[11]) + int(jvm[12])) / _CLK_TCK if jvm else 0.0,
            "pyworkers": workers / _CLK_TCK,
        }

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0
