"""Query registry: every operator from SURVEY.md §2 gets a named entry.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an ANSI-SQL oracle string DuckDB runs on the same parquet
tables. The driver compares row count + schema + order-insensitive value hash,
so every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optional DuckDB oracle SQL) to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness harness checks the FIRST 50 registered queries
# (row count, schema and order-insensitive value hash against the oracle).
# ``load_all()`` reorders the registry so that window is exactly
# CHECK_PRIORITY, in its order; every other query keeps registration order.
# Each windowed query must be oracle-paired unless it is listed in
# WINDOW_ROWS_ONLY, the rows-only names allowed to hold a window slot.
# tests/test_check_window.py pins both. Why a query holds a slot in a given
# round is recorded in CHANGES.md and git log, not here.
CHECK_PRIORITY: tuple[str, ...] = (
    "rrf_hybrid_retrieval",
    "rag_retrieval_pipeline",
    "mmr_diversified_rerank",
    "embedding_dedup_pipeline",
    "embedding_dedup_clusters",
    "dedup_canonical_selection",
    "simhash_cluster_assignment",
    "entity_resolution_clusters",
    "dedup_groups_small",
    "label_propagation_communities",
    "community_quality_report",
    "quality_classifier_scores",
    "classifier_pr_curve",
    "score_calibration_bins",
    "cohens_kappa_rules",
    "hard_negative_pairs_ann",
    "ann_recall_report",
    "semantic_decontamination",
    "dedup_connected_groups",
    "ngram_overlap_decontam",
    "ohlc_hourly_bars",
    "pandas_scalar_udf_margin",
    "pareto_orders_skyline",
    "projection_rekey",
    "range_generator_source",
    "recursive_cte_reachability",
    "reservoir_sample_sources",
    "rolling_weekly_active_users",
    "salted_skew_aggregate",
    "scd2_merge_emulation",
    "session_paths_top",
    "token_divergence_by_source",
    "topk_orders_global",
    "union_all_segments",
    "window_distribution_fns",
    "window_frames_running",
    "window_lag_lead_orders",
    "window_range_frame",
    "window_rank_customers",
    "winsorized_price_stats",
    "yoy_revenue_growth",
    "approx_topk_event_types",
    "array_agg_order_parts",
    "bitmap_exact_distinct",
    "catalog_input_file_name",
    "collation_token_counts",
    "conditional_aggregates",
    "date_functions",
    "dedup_exact_keyed",
    "doc_fingerprint",
)


WINDOW_ROWS_ONLY: frozenset[str] = frozenset(
    {
        "dedup_connected_groups",
    }
)


def load_all() -> None:
    """Import every query module, then order the registry so the driver's
    checked-50 window covers CHECK_PRIORITY (rest keep registration order)."""
    from mapreducefw_spark.queries import (  # noqa: F401
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        relational6,
        relational7,
        relational8,
        windows,
        windows2,
        timeseries,
        llm,
        llm_scale,
        parity,
        pipeline,
        pipeline2,
        pipeline3,
        pipeline4,
        pipeline5,
        pipeline6,
        pipeline7,
        pipeline8,
        pipeline9,
        pipeline10,
        pipeline11,
        pipeline12,
        pipeline13,
        pipeline14,
        pipeline15,
        pipeline16,
        pipeline17,
        pipeline18,
        pipeline19,
        pipeline20,
        pipeline21,
        pipeline22,
        pipeline23,
        pipeline24,
        pipeline25,
        pipeline26,
        pipeline27,
        pipeline28,
        pipeline29,
        pipeline30,
        pipeline31,
        pipeline32,
        pipeline33,
        pipeline34,
        pipeline35,
        pipeline36,
        pipeline37,
        pipeline38,
        pipeline39,
        pipeline40,
        pipeline41,
        pipeline42,
        pipeline43,
        pipeline44,
        pipeline45,
        pipeline46,
        pipeline47,
        pipeline48,
        pipeline49,
    )

    ordered = [n for n in CHECK_PRIORITY if n in QUERIES]
    ordered += [n for n in QUERIES if n not in CHECK_PRIORITY]
    for registry in (QUERIES, ORACLES):
        snapshot = {n: registry[n] for n in ordered if n in registry}
        registry.clear()
        registry.update(snapshot)
