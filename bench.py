"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line with the totals. Results
materialize via the noop sink so timings measure the full distributed plan
without driver-collect overhead (large outputs) while small aggregates still
pay their real cost.

The driver captures only the LAST 2000 chars of stdout (BENCH_r06.json's
"parsed": null — the one-line JSON outgrew the window and its head, with
"value", was truncated away). So the full result (per-query map included)
goes to BENCH_FULL.json + stderr, and the stdout line self-limits to 1800
chars, eliding the per-query map when the suite is too large to fit.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from mapreducefw_spark.queries import QUERIES, load_all
from mapreducefw_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "join_left_outer_order_counts",
    "filter_predicates",
    "window_rank_customers",
    "topk_parts_per_brand",
    "events_tumbling_1h",
    "sessionization_30m",
    "asof_join_latest_order",
    "json_extract_events",
    "dedup_exact",
    "jaccard_token_pairs",
    "minhash_dedup_pairs",
    "embedding_cosine_topk",
    "text_token_stats",
    "mr_wordcount",
    "q10_returned_revenue",
    "median_exact_prices",
    "session_window_batch",
    "time_rollup_multigrain",
    "interval_join_events",
    "tfidf_top_terms",
    "salted_skew_aggregate",
    # round 3: TPC-H batch 2 + training-data layout
    "q7_nation_volume",
    "q13_order_count_distribution",
    "sequence_pack_spans",
    "snapshot_diff",
    # round 4: skewed fact x fact join + scale-safe global rank + chunking
    "skew_join_events_orders",
    "window_global_rank_scalable",
    "doc_chunking",
    # round 5: curation tier — broadcast-bitmap decontamination + decile
    # binning over the two-phase global rank
    "bloom_decontaminate",
    "quality_decile_mixture",
    "incremental_agg_maintenance",
    # round 5 (continued): linkage + resample + rank-based histogram + graph
    "edit_distance_pairs_symspell",
    "events_gap_fill_hourly",
    "equi_depth_histogram",
    "copurchase_triangles",
    # round 6: staged funnel (array-free scale path), tolerance as-of,
    # debounce window, gram-overlap decontamination, native recursion,
    # group-aware split
    "funnel_staged_minjoin",
    "asof_tolerance_join",
    "debounce_consecutive_events",
    "ngram_overlap_decontam",
    "recursive_cte_reachability",
    "group_aware_split",
    # round 7: quality gate (scan-only HOFs), Zipf fit, exact-distinct
    # bitmaps, PMI self-join, postings-list build
    "gopher_quality_rules",
    "zipf_alpha_by_source",
    "bitmap_exact_distinct",
    "event_pair_pmi",
    "inverted_index_postings",
    # round 8: one-pass calendar-lag ACF (order #6) + the end-to-end
    # corpus-prep composition (order #4)
    "acf_daily_revenue",
    "corpus_prep_pipeline",
    # round 8 batch 5/6: unigram-LM token scan (the heaviest new shape),
    # grid-self-join rank correlation, survival-curve day-grid windows
    "unigram_logppl_by_source",
    "kendall_tau_b",
    "kaplan_meier_retention",
    # round 8 batch 7: the oracle-paired simhash twin (48-bit portable
    # signatures + pigeonhole chunk blocking)
    "simhash_portable_pairs",
    # round 9: the production capped form (cap_bucket_size(64) before the
    # chunk self-join — r8 verdict order #4); its delta vs the uncapped row
    # above is the measured price of the boilerplate mega-buckets
    "simhash_portable_pairs_capped",
    # round 9 batch 2: the calendar-bounded sign pair grid, the
    # vocabulary-combined gram df scan, and the flat (source, token) grid
    "mann_kendall_trend",
    "stop_gram_boilerplate",
    "hapax_legomena_stats",
    # round 10: the portable PQ/ADC ANN pair (r9 verdict order #4) — the
    # Arrow-batched encode + lookup-table ADC scan, and its IVF-celled
    # composition (nprobe/n_cells corpus fraction in byte codes)
    "embedding_pq_topk_portable",
    "embedding_ivf_pq_topk_portable",
    # the production SemDeDup path (cell-bucketed within-cell compare)
    "semantic_dedup_portable",
    # round 11: the ExactSubstr gram-chaining scan (Lee et al. 2022), the
    # end-to-end embedding dedup composition, ANN-tier hard-negative
    # mining, the hybrid-retrieval RRF/MMR pair, semantic benchmark
    # decontamination, and the per-source frequency cap
    "exact_substring_spans",
    "embedding_dedup_pipeline",
    "hard_negative_pairs_ann",
    "rrf_hybrid_retrieval",
    "rag_retrieval_pipeline",
    "semantic_decontamination",
    "source_frequency_cap",
    # round 11 batch 4: the ANN recall audit, the C4-style duplicate-block
    # filter, and the published-classifier scoring pass
    "ann_recall_report",
    "duplicate_block_filter",
    "quality_classifier_scores",
    # round 11 batch 5: the PQ recall audit (the wordpiece pair is an
    # iterative trainer — benchmarked via its operators' probe shapes,
    # not as a headliner, like bpe_learned_merges)
    "pq_recall_report",
    # round 12: the JVM-side media-header construct+parse scan (map-only)
    # and the full-outer ANSI MERGE clause dispatch
    "multimodal_metadata",
    "merge_into_orders_upsert",
    # round 12 batch 2/3: the post-training preference tier (the DPO pair
    # build exercises two opposed two-phase ranks + a join; the win matrix
    # the pool-bounded self-join) and the DP release (count shuffle + the
    # 61-branch codegen noise projection). best_of_n/bradley_terry share
    # those exact plan shapes and stay out of the headline set.
    "dpo_pair_construction",
    "preference_win_matrix",
    "dp_noisy_counts",
    # round 12 batch 4/5: the iterated join+agg graph shape (LPA, the
    # pagerank plan family) and the one-pass Arrow Gram scan + model-sized
    # collect (PCA). community_quality_report shares LPA's plan and stays
    # out of the headline set.
    "label_propagation_communities",
    "pca_top_component",
    # round 12 batch 7: the B-fold replicate explode feeding a map-side-
    # combined hash agg (the distributed-bootstrap shape)
    "poisson_bootstrap_ci",
    # round 12 batch 8: the scored scan x broadcast threshold grid
    # (calibration/kappa share the same single-scan shape and stay out)
    "classifier_pr_curve",
    # round 12 batch 9: the 9x-replicated cell equi-join (the spatial
    # shape; the density grid is an ordinary groupBy and stays out)
    "spatial_radius_join",
    # round 13: the full stdlib media decode — two Arrow mapInPandas
    # stages (encode fixture, zlib+unfilter/PCM decode), shuffle-free
    "multimodal_decode_checksums",
]


def _mark(msg: str) -> None:
    """Per-query stderr tag: JVM log warnings (e.g. WindowExec's 'No
    Partition Defined') interleave chronologically with these markers, so
    any warning in the bench tail is attributable to the query whose
    marker precedes it — a round-5 verdict order (4 untraceable warnings
    in the BENCH_r05 tail)."""
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def _unpartitioned_windows(df) -> int:
    """Count Window nodes with an EMPTY partitionSpec in the optimized
    logical plan — each one becomes a single-task WindowExec (the source
    of the 'No Partition Defined' warning). Logical-plan JSON, so no
    execution needed."""
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return sum(
        1
        for n in nodes
        if n.get("class", "").endswith("logical.Window") and not n.get("partitionSpec")
    )


def codegen_compiles(spark) -> int:
    """Generated classes the session's JVM has compiled so far (Spark's
    CodegenMetrics). A warm pass that compiles many is rebuilding code it
    already had: evicted from the codegen cache, or fresh per build."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


CALIBRATORS = ("q1_pricing_summary", "snapshot_diff", "mr_wordcount")


def _vs_prev(per_query: dict, total: float, prev: dict, prev_src: str) -> dict:
    """Round-over-round comparison block, factored out so the calibrator
    median is unit-testable (r12 verdict order #4 — the 2-of-3 case)."""
    prev_q = prev.get("queries", {})
    regressions = {
        n: {"prev": prev_q[n], "now": now, "ratio": round(now / prev_q[n], 2)}
        for n, now in per_query.items()
        if n in prev_q and prev_q[n] > 0 and now / prev_q[n] > 1.3
    }
    # compare totals over the INTERSECTION of query sets: the headline
    # list grows round over round, and a raw-total ratio would read
    # "slower" when the only change is more queries measured
    common = [n for n in per_query if n in prev_q]
    # In-band host-drift calibration (round-11 protocol addition): the
    # median ratio of three long-stable queries whose code has not
    # changed since the early rounds. A regression list where every
    # entry sits near calibrator_drift is host noise, not plans — the
    # repeated lesson of the r9/r10/r11 flag audits (SCALING.md notes),
    # now measured inside the same run instead of re-derived by hand.
    calib = [
        n
        for n in CALIBRATORS
        # explicit None/0 check: `.get(n)` truthiness would also drop a
        # legitimate 0.0, and we want missing-from-prev to be the ONLY
        # exclusion reason (ADVICE r11)
        if n in per_query and prev_q.get(n) not in (None, 0)
    ]
    # statistics.median (not the upper-median sorted[len//2] pick): with
    # an even number of surviving calibrators the old form reported the
    # max of two — and record how many calibrators contributed so a
    # degraded basis is visible in the artifact (ADVICE r11 / r12 #4)
    drift = (
        round(statistics.median(per_query[n] / prev_q[n] for n in calib), 3)
        if calib
        else None
    )
    block = {
        "calibrator_drift": drift,
        "calibrator_n": len(calib),
        "file": prev_src,
        "total_prev": prev.get("value"),
        "total_ratio": round(total / prev["value"], 3) if prev.get("value") else None,
        "comparable_total": round(sum(per_query[n] for n in common), 3),
        "comparable_prev": round(sum(prev_q[n] for n in common), 3),
        "comparable_ratio": round(
            sum(per_query[n] for n in common) / max(sum(prev_q[n] for n in common), 1e-9), 3
        ),
        "regressions": regressions,
    }
    if len(calib) < len(CALIBRATORS):
        # fewer than the full calibrator set survived the prev record —
        # the drift estimate rests on a degraded basis; surface it rather
        # than letting a 1- or 2-point "median" read as the usual 3
        block["calibrator_degraded"] = True
    return block


def time_queries(
    spark,
    sf_dir: str,
    names: list[str],
    passes: int = 3,
    warmup: bool = True,
    failed: dict[str, str] | None = None,
    compiles: list[int] | None = None,
) -> tuple[dict[str, float], list[float]]:
    """Time each query's noop-sink write: one untimed warm-up sweep, then
    ``passes`` interleaved full passes. Returns each query's best time and
    each pass's total. A query that raises propagates, unless ``failed`` is
    a dict: then its error is recorded there and the query is skipped from
    then on. If ``compiles`` is a list, each pass appends the number of
    generated classes the session compiled during it."""

    def run(name: str) -> bool:
        if failed is not None and name in failed:
            return False
        try:
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception as e:
            if failed is None:
                raise
            failed[name] = f"{e.__class__.__name__}: {' '.join(str(e).split())[:200]}"
            _mark(f"FAILED {name}: {failed[name]}")
            return False
        return True

    # Warm the WHOLE suite once untimed. JIT/codegen warm-up is shared
    # across queries and keeps improving well past each query's own reps:
    # in a controlled A/B the same queries ran 1.2-1.3x slower on the first
    # full pass than on later passes regardless of clearCache. One untimed
    # sweep moves every timed rep onto the warmed path, so diffs measure
    # plans, not how cold the JVM was.
    if warmup:
        for name in names:
            _mark(f"warmup {name}")
            run(name)

    # min over INTERLEAVED full passes (pass 1 times every query once, then
    # pass 2, ...) instead of back-to-back reps per query. Back-to-back reps
    # complete within seconds, so a single multi-minute noisy-neighbor
    # window on a shared VM inflates ALL reps of a contiguous block of
    # queries (SCALING.md round-13 notes). Interleaving puts ~a full pass
    # between a query's reps, so one contention window can poison at most
    # one of them and the min survives.
    per_query: dict[str, float] = {}
    pass_totals: list[float] = []
    for rep in range(passes):
        _mark(f"timing pass {rep + 1}/{passes}")
        pass_total = 0.0
        compiled0 = codegen_compiles(spark)
        for name in names:
            # cold cache each rep: a persist() surviving rep 1 would make
            # rep 2 measure the cached path, not the real plan
            spark.catalog.clearCache()
            t0 = time.time()
            if not run(name):
                continue
            el = time.time() - t0
            pass_total += el
            if name not in per_query or el < per_query[name]:
                per_query[name] = el
        pass_totals.append(round(pass_total, 3))
        if compiles is not None:
            compiles.append(codegen_compiles(spark) - compiled0)
    # a contended pass is visible here: one pass total far above the
    # others means that pass's reps were inflated (and discarded by the
    # per-query min wherever another pass was clean)
    _mark(f"pass totals: {pass_totals}")
    return {n: round(v, 3) for n, v in per_query.items()}, pass_totals


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    load_all()
    spark = get_spark(app_name="mapreducefw-bench", cpus=cpus)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    # One attribution line up front: which headline plans contain an
    # unpartitioned window frame AT ALL (expected: exactly the CI
    # allowlist in tests/test_plan_invariants.py — sequence_pack_spans'
    # O(bucket-count) cumsum). Any WindowExec warning from a query NOT
    # listed here is a plan regression, not a documented small frame.
    frames = {}
    for name in HEADLINE:
        try:
            n = _unpartitioned_windows(QUERIES[name](spark, sf_dir))
        except Exception as e:  # attribution must never fail the bench...
            # ...but a scan failure silently skips this query's window check,
            # so it must be LOUD (round-6 verdict nit): REGRESSION-style line
            # + a marked entry in the attribution map.
            n = f"scan-err: {e.__class__.__name__}"
            print(
                f"REGRESSION-RISK plan-scan failed for {name}: "
                f"{e.__class__.__name__}: {e} — unpartitioned-window "
                f"attribution SKIPPED for this query",
                file=sys.stderr,
                flush=True,
            )
        if n:
            frames[name] = n
    _mark(f"unpartitioned-window frames by query (allowlisted in CI): {frames}")

    compiles: list[int] = []
    per_query, pass_totals = time_queries(spark, sf_dir, HEADLINE, compiles=compiles)

    total = round(sum(per_query.values()), 3)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "pass_totals": pass_totals,
        "codegen_compiles": compiles,
        "sf": sf,
        "cpus": int(cpus),
    }

    # regression gate: diff against the newest BENCH_r{N}.json the driver
    # recorded; flag any query >1.3x slower than the previous round.
    # BENCH_r06 taught us the driver's tail capture is 2000 chars: the r6
    # one-line JSON outgrew it, so "parsed" landed null and the per-query
    # map survived only in raw tail text. Two defenses now: (a) the prev
    # loader falls back to BENCH_FULL.json — the full result this script
    # writes every run (the driver's end-of-round commit picks it up) —
    # whenever parsed is null or lacks a query map; (b) the stdout line is
    # kept short (see below).
    prior_files = sorted(
        REPO.glob("BENCH_r*.json"),
        key=lambda p: int(re.sub(r"\D", "", p.stem) or 0),
    )
    prev, prev_src = None, None
    if prior_files:
        rec = json.loads(prior_files[-1].read_text())
        parsed = rec.get("parsed") if isinstance(rec, dict) else None
        if isinstance(parsed, dict) and parsed.get("queries"):
            prev, prev_src = parsed, prior_files[-1].name
    full_path = REPO / "BENCH_FULL.json"
    # Fallback order when the driver record has no query map: the
    # round-START snapshot first, then the live BENCH_FULL. The snapshot
    # (BENCH_FULL_prev.json, refreshed by the round's FIRST commit before
    # any perf-relevant change) keeps vs_prev a real round-over-round gate:
    # mid-round regenerations overwrite BENCH_FULL.json and would otherwise
    # reset the comparison base to the round's own partial work (r10
    # verdict order #4 — commit bde0bd4 did exactly that).
    for cand_path in (REPO / "BENCH_FULL_prev.json", full_path):
        if prev is not None or not cand_path.exists():
            continue
        try:
            cand = json.loads(cand_path.read_text())
        except Exception:
            cand = None
        # only comparable if it measured the same sf as this run
        if isinstance(cand, dict) and cand.get("queries") and cand.get("sf") == sf:
            prev, prev_src = cand, cand_path.name
    if prev is not None:
        result["vs_prev"] = _vs_prev(per_query, total, prev, prev_src)
        if result["vs_prev"]["regressions"]:
            print(
                f"REGRESSIONS vs {prev_src}: {result['vs_prev']['regressions']}",
                file=sys.stderr,
            )

    # Full result: to a committed file + stderr (both escape the 2000-char
    # stdout tail window). The driver's record only needs the short line.
    full_path.write_text(json.dumps(result, indent=1) + "\n")
    _mark(f"full result: {json.dumps(result)}")

    # The final stdout line must survive a 2000-char tail capture. Emit the
    # full line when it fits with margin; otherwise elide the per-query map
    # (it lives in BENCH_FULL.json / stderr) and compress the regression
    # block to name->ratio.
    line = json.dumps(result)
    if len(line) > 1800:
        short = {
            "metric": result["metric"],
            "value": result["value"],
            "unit": result["unit"],
            "sf": result["sf"],
            "cpus": result["cpus"],
            "n_queries": len(per_query),
            "pass_totals": pass_totals,
            "codegen_compiles": compiles,
            "queries_file": "BENCH_FULL.json",
        }
        if "vs_prev" in result:
            vp = result["vs_prev"]
            short["vs_prev"] = {
                "file": vp["file"],
                "calibrator_drift": vp["calibrator_drift"],
                "comparable_ratio": vp["comparable_ratio"],
                "regressions": {
                    n: r["ratio"] for n, r in vp["regressions"].items()
                },
            }
        line = json.dumps(short, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
