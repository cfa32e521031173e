"""In-pytest differential smoke: a representative query subset vs DuckDB at
sf0.001, exact equality — keeps `pytest` self-contained as a regression gate
(the full registry sweep is tools/check_oracle.py, with --vanilla for the
driver's own session)."""

from __future__ import annotations

import math

import duckdb
import pytest

from mapreducefw_spark.queries import ORACLES, QUERIES, load_all
from mapreducefw_spark.sources.tables import TABLES

SMOKE_QUERIES = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "join_left_outer_order_counts",
    "window_frames_running",
    "rollup_order_priority",
    "sessionization_30m",
    "session_window_batch",
    "dedup_exact",
    "jaccard_token_pairs",
    "embedding_cosine_topk",
    "text_quality_scores",
    "mr_search",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


@pytest.mark.parametrize("name", SMOKE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    load_all()
    sdf = QUERIES[name](spark, sf_dir)
    cols = sdf.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    srows = sorted(tuple(_norm(r[i]) for i in order) for r in sdf.collect())
    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    drows = sorted(tuple(_norm(r[i]) for i in dorder) for r in res.fetchall())
    assert sorted(cols) == sorted(dcols)
    assert srows == drows
