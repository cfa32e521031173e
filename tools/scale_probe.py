"""Scaling probe: time the registered headline queries (``bench.HEADLINE``)
on k-fold copies of the sf0.1 fact tables and write SCALING.md.

For each factor k the fact tables are written k times over into one parquet
file per table under the temp dir, with pyarrow so every column type survives. Copy
i adds ``i * offset`` to the key columns in ``REKEY`` (one offset for all of
them, so the order keys of orders and lineitem, and the shared doc_id /
vec_id space, stay aligned), which makes key cardinality grow with the data
instead of piling up duplicates. Dimension tables are copied unchanged.
The queries then run through ``bench.time_queries``: the same warm-up and
interleaved timing loop as the bench. The probe holds no query logic.

Run: python tools/scale_probe.py   (SPARK_GRAFT_CPUS defaults to the host's
core count; SPARK_DRIVER_MEMORY as in mapreducefw_spark.session)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE, time_queries  # noqa: E402
from mapreducefw_spark.queries import QUERIES, load_all  # noqa: E402
from mapreducefw_spark.session import get_spark  # noqa: E402
from mapreducefw_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
OUT_DIR = Path(tempfile.gettempdir()) / "spark-graft-scale"
FACTORS = [1, 4, 16]
# timed passes per factor; the warm-up sweep runs once, before the first
# factor (JIT/codegen warm-up is per JVM, not per input)
PASSES = 1
# A Spark job still running after this long is cancelled and its query
# reads FAIL: copies of the same rows make every pair-generating query
# quadratic in k, and at 16x on a few cores one such job runs for tens of
# minutes.
JOB_CAP_S = 180
REKEY = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def write_copies(src: str, out: Path, k: int) -> str:
    """Write the k-fold rekeyed copy of ``src`` to ``out``; return its path."""
    out.mkdir(parents=True, exist_ok=True)
    facts = {t: pq.read_table(f"{src}/{t}.parquet") for t in REKEY}
    offset = 1 + max(pc.max(facts[t][c]).as_py() for t, cols in REKEY.items() for c in cols)
    for t in TABLES:
        if t not in REKEY:
            shutil.copyfile(f"{src}/{t}.parquet", out / f"{t}.parquet")
            continue
        copies = []
        for i in range(k):
            tbl = facts[t]
            for c in REKEY[t]:
                shifted = pc.add(tbl[c], pa.scalar(i * offset, tbl.schema.field(c).type))
                tbl = tbl.set_column(tbl.schema.get_field_index(c), c, shifted)
            copies.append(tbl)
        pq.write_table(pa.concat_tables(copies), out / f"{t}.parquet")
    return str(out)


def cap_jobs(sc, stop: threading.Event) -> None:
    """Cancel every job that stays active longer than JOB_CAP_S."""
    seen: dict[int, float] = {}
    while not stop.wait(2):
        now = time.time()
        for job in sc.statusTracker().getActiveJobsIds():
            if now - seen.setdefault(job, now) > JOB_CAP_S:
                sc._jsc.sc().cancelJob(job)


def notes_tail(existing: str | None, fallback: str) -> str:
    """The notes sections to carry through a regen: everything from the
    first '## Round' heading of the EXISTING SCALING.md (notes are appended
    to the file between regens, and a regen must not clobber them); the
    fallback is only for a checkout with no SCALING.md or no notes yet."""
    if existing:
        idx = existing.find("\n## Round")
        if idx >= 0:
            return existing[idx + 1 :]
    return fallback


def cell(times: dict[str, float], failed: dict[str, str], name: str) -> str:
    if name in failed:
        return "FAIL"
    return f"{times[name]:.2f}s" if name in times else "-"


def render(cpus: int, rows: int, results: dict[int, tuple[dict, dict]]) -> str:
    lines = [
        "# SCALING — headline queries on k-fold sf0.1 facts (tools/scale_probe.py)",
        "",
        f"Host: {cpus} cores (local[{cpus}]); factors: {FACTORS}; lineitem base "
        f"rows: {rows:,}; {PASSES} timed pass(es) per factor after one warm-up "
        "sweep. Fact tables are repeated k times with their keys offset per "
        "copy, so key cardinality grows with the data; dimension tables are "
        f"unchanged. The {len(HEADLINE)} queries are `bench.HEADLINE`, timed "
        "by `bench.time_queries` (noop-sink write, plan construction included). "
        f"A Spark job still running after {JOB_CAP_S}s is cancelled, so its "
        "query reads FAIL at that factor.",
        "",
        "| query | " + " | ".join(f"{k}x" for k in FACTORS) + f" | {FACTORS[-1]}x/1x |",
        "|---" * (len(FACTORS) + 2) + "|",
    ]
    first, last = results[FACTORS[0]][0], results[FACTORS[-1]][0]
    for name in HEADLINE:
        cells = [cell(*results[k], name) for k in FACTORS]
        ratio = f"{last[name] / max(first[name], 0.01):.1f}" if name in first and name in last else "-"
        lines.append(f"| {name} | " + " | ".join(cells) + f" | {ratio} |")
    errors = [(k, n, e) for k in FACTORS for n, e in results[k][1].items()]
    if errors:
        lines += ["", "Failures:", ""]
        lines += [f"- {n} at {k}x: {e}" for k, n, e in errors]
    return "\n".join(lines) + "\n"


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    load_all()
    unknown = [n for n in HEADLINE if n not in QUERIES]
    if unknown:
        raise SystemExit(f"HEADLINE names not registered: {unknown}")
    spark = get_spark(app_name="scale-probe", cpus=cpus)
    stop = threading.Event()
    threading.Thread(target=cap_jobs, args=(spark.sparkContext, stop), daemon=True).start()
    results = {}
    for k in FACTORS:
        sf_dir = write_copies(SF_DIR, OUT_DIR / f"x{k}", k)
        failed: dict[str, str] = {}
        times, totals = time_queries(
            spark, sf_dir, HEADLINE, passes=PASSES, warmup=k == FACTORS[0], failed=failed
        )
        results[k] = (times, failed)
        print(json.dumps({"factor": k, "pass_totals": totals, "times": times, "failed": failed}), flush=True)
    stop.set()
    spark.stop()
    shutil.rmtree(OUT_DIR, ignore_errors=True)
    rows = pq.ParquetFile(f"{SF_DIR}/lineitem.parquet").metadata.num_rows
    out = REPO / "SCALING.md"
    existing = out.read_text() if out.exists() else None
    out.write_text(render(cpus, rows, results) + "\n" + notes_tail(existing, ""))


if __name__ == "__main__":
    main()
