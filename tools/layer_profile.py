"""Profile registered queries through perfbench's traced run:
``python tools/layer_profile.py <query...> [--sf F] [--plans DIR] [--shuffle-md]``.

Runs them as a perfbench ``Registry`` at scale ``--sf`` in the traced session
of ``run.py --trace 1`` (``local[4]``, event log, no UI) and prints the record
without spans: ``per_op`` layers, ``stages`` of the first traced pass,
``op_times``, ``verdicts``, ``session``. ``--plans`` writes formatted plans to
``DIR/<query>.txt``; ``--shuffle-md`` adds SHUFFLE.md's queries, reads their
``tables`` and ``why``, and rewrites the measured columns of that table.
"""

import argparse
import json
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(REPO), str(REPO / "perfbench")]

import run  # noqa: E402
from layers import UNITS  # noqa: E402
from tracing import read_event_log  # noqa: E402
from workloads import Registry  # noqa: E402

# the layers a query owns; the rest are measured per pass or per run
PER_OP = [k for k in UNITS if not k.startswith(("session.", "proc.", "trace.")) and k != "spark.slot_idle_frac"]


class Profiled(Registry):
    """A registry workload whose untimed check writes each query's plan into ``plans``, unless None."""

    def check(self, ops, outputs):
        for op in ops if self.plans else ():
            df = op.fn()
            self.plans.mkdir(parents=True, exist_ok=True)
            (self.plans / f"{op.name}.txt").write_text(
                df.sparkSession._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
        return super().check(ops, outputs)


def stage_lists(log_dir: Path, tag: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for sid, st in sorted(read_event_log(str(log_dir))[1].items()):
        if (st.group or "").startswith(f"{tag}|"):
            _, op, phase = st.group.split("|")
            out.setdefault(op, []).append(dict(stage=sid, phase=phase, tasks=st.tasks, run_s=st.run_ms / 1000,
                cpu_s=st.cpu_ns / 1e9, shuffle_read=st.shuffle_read, shuffle_write=st.shuffle_write))
    return out


def shuffle_md(md: str, rows: list[list[str]], record: dict, data_dir: Path, sf: float) -> str:
    """SHUFFLE.md, whose table ends the file, with its title and table rows measured anew."""
    lines, cfg = md.splitlines(), record["session"]
    lines[0] = (f"# SHUFFLE — bytes shuffled vs on-disk input per query (tools/layer_profile.py --shuffle-md, "
                f"sf{sf:g}, {cfg['cores']} cores, driver memory {cfg['driver_memory']})")
    lines = lines[:next(i for i, line in enumerate(lines) if line.startswith("|")) + 2]  # to the table's rule
    for name, tables, *_, why in rows:
        disk = sum((data_dir / f"{t}.parquet").stat().st_size for t in tables.split(", "))
        failed = record["verdicts"].get(name) or (name in record["op_failures"] and "raised")
        written = record["per_op"][name]["spark.shuffle_write_bytes"]
        measured = (f"failed: {failed.replace('|', '/')} | failed" if failed
                    else f"{written / 1e6:.3f} MB | {written / disk:.3f}")
        lines.append(f"| {name} | {tables} | {disk / 1e6:.3f} MB | {measured} | {why} |")
    return "\n".join(lines) + "\n"


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", type=float, default=0.01, help="scale of the generated tables")
    ap.add_argument("--plans", type=Path, help="directory for the formatted plans")
    ap.add_argument("--shuffle-md", action="store_true", help="add SHUFFLE.md's queries and rewrite its table")
    args = ap.parse_args(argv)
    md = (REPO / "SHUFFLE.md").read_text() if args.shuffle_md else ""
    rows = [[c.strip() for c in line.strip("|").split("|")] for line in md.splitlines() if line.startswith("|")][2:]
    workload = Profiled(list(dict.fromkeys(args.queries + [r[0] for r in rows])), args.sf)
    if not workload.names:
        ap.error("name a query, or pass --shuffle-md")
    workload.plans = args.plans
    with tempfile.TemporaryDirectory(prefix="profile-", ignore_cleanup_errors=True) as tmp:
        tmp = Path(tmp)
        run.prepare_environment(tmp)
        try:
            record, _ = run.Bench("profile", workload, 1, 0, True, tmp).run()
        finally:
            run.stop_jvm()
        record["per_op"] = {n: {k: record["per_op"].get(n, {}).get(k, 0.0) for k in PER_OP} for n in workload.names}
        record["stages"] = stage_lists(tmp / "eventlog", next(p["tag"] for p in record["passes"] if p["traced"]))
        if md:
            (REPO / "SHUFFLE.md").write_text(shuffle_md(md, rows, record, tmp / "data", args.sf))
    print(json.dumps({k: v for k, v in record.items() if k != "spans"}))


if __name__ == "__main__":
    main()
