"""Corpus-curation operators: stratified sampling, quality binning, token
budget allocation, and bloom-filter decontamination.

The selection layer of an LLM training-data pipeline — after cleaning and
dedup (operators/dedup.py, text.py), decide WHAT goes into the mix. All
deterministic via the md5 hash family (operators/packing.py::uniform_unit
semantics), so any engine recomputes identical selections from the same
ids — the auditability property a 100 TB pipeline needs. Reference scope:
the reference engine stops at sorted reduce output (MRFCore.cpp:446-466);
curation is part of the LLM-pipeline target surface this repo adds.

Scale notes per operator are in each docstring; nothing here shuffles more
than once over the corpus, and every lookup side is a broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _md5_long(col: Column, salt: str) -> Column:
    """First 32 bits of md5(value ':' salt) as a non-negative bigint —
    reproducible outside Spark (DuckDB: CAST('0x'||substr(md5(..),1,8) AS
    BIGINT)), unlike xxhash64."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(f":{salt}"))), 1, 8),
        16,
        10,
    ).cast("long")


def stratified_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    *,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, chosen by md5 order — a
    deterministic stratified sample (per-source caps, eval-set carve-outs).

    Unlike ``df.sampleBy`` (fraction-based, RNG-seeded, approximate counts),
    this is exact-k and engine-reproducible: rank by md5(id) within the
    group and keep the k smallest. One shuffle (hash by group). A group
    bigger than one executor's window buffer is fine — WindowExec spills —
    but for pathologically hot groups pre-prune per partition first (the
    two-phase shape of operators/rank.py) since only k rows per partition
    can survive."""
    key = _md5_long(F.col(id_col), salt)
    w = W.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def token_budget_waterfill(
    per_source: DataFrame,
    budget: int | float | Column,
    *,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Allocate a global token ``budget`` across sources, capping each at its
    available tokens and splitting the remainder EVENLY among the others —
    water-filling, the standard fair-mixture allocation.

    The textbook algorithm is iterative (raise the water level until the
    budget is spent); over a sorted frame it collapses to a CLOSED FORM that
    is one window pass: order sources by available tokens ascending; for
    row i (0-indexed, n rows total, prefix[i] = sum of a_0..a_{i-1}) the
    candidate level is (budget - prefix[i]) / (n - i). A source saturates
    (alloc = a_i) iff a_i <= its candidate level; the final water level is
    the candidate of the FIRST unsaturated row, and every unsaturated source
    gets exactly that level (floored to whole tokens).

    Input is the per-source aggregate (one row per source — tiny), so the
    global window costs O(sources); the corpus-sized work happened in the
    upstream groupBy. Invariants pinned in tests/test_curation.py:
    sum(alloc) == min(budget, total available) (up to flooring), alloc_i <=
    a_i, and saturated sources are exactly those below the water level."""
    # budget may be a Column (e.g. a broadcast fraction-of-total attached by
    # the caller) so registered queries stay collect-free
    bcol = budget if isinstance(budget, Column) else F.lit(float(budget))
    n = F.count(F.lit(1)).over(W.partitionBy())
    w_ord = W.orderBy(F.col(tokens_col).asc(), F.col(source_col).asc())
    prefix = F.coalesce(
        F.sum(tokens_col).over(w_ord.rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    idx = F.row_number().over(w_ord) - 1
    cand = (bcol.cast("double") - prefix.cast("double")) / (n - idx).cast("double")
    sat = F.col(tokens_col).cast("double") <= F.col("_cand")
    staged = per_source.select(
        F.col(source_col),
        F.col(tokens_col),
        cand.alias("_cand"),
    ).withColumn("_sat", sat)
    # water level = candidate of the FIRST unsaturated row. Past that row the
    # prefix keeps accumulating full a_i from sources that only consume the
    # level, so later candidates are strictly smaller — the first unsaturated
    # candidate is the MAX over unsaturated rows. NULL when every source
    # saturates (budget >= total available).
    level = F.max(F.when(~F.col("_sat"), F.col("_cand"))).over(W.partitionBy())
    return (
        staged.withColumn("_level", level)
        .select(
            source_col,
            tokens_col,
            F.when(
                F.col("_sat") | F.col("_level").isNull(), F.col(tokens_col).cast("long")
            )
            .otherwise(F.floor(F.col("_level")))
            .alias("alloc_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 20  # m: power of two so `% m` of a 32-bit md5 value is uniform


def bloom_bitmap(
    contaminated: DataFrame,
    key_col: str = "text",
    *,
    num_hashes: int = 4,
    num_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Build a bit-packed bloom bitmap over ``key_col``: rows (word bigint,
    bits bigint) with at most num_bits/32 rows (~32K rows / 256 KB for the
    default 2^20 bits — the broadcastable summary of an arbitrarily large
    contamination set; the raw strings never leave their executors).

    Position i of key = (first 32 md5 bits of key||':bi') % num_bits;
    packed as word = pos div 32, bit = pos % 32 (32 bits per word: a
    shift never reaches the sign bit, so Spark and DuckDB agree without
    signed-overflow edge cases), OR-aggregated per word.
    md5 family on purpose: DuckDB recomputes the identical bitmap, so the
    whole filter is value-hash checkable (see queries/pipeline6.py)."""
    pos = [
        (_md5_long(F.col(key_col), f"b{i}") % num_bits).alias(f"p{i}")
        for i in range(num_hashes)
    ]
    exploded = contaminated.select(
        F.explode(F.array(*pos)).alias("pos")
    )
    return (
        exploded.groupBy((F.col("pos") / 32).cast("long").alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            ).alias("bits")
        )
    )


def bloom_probe(
    corpus: DataFrame,
    bitmap: DataFrame,
    key_col: str = "text",
    *,
    id_col: str = "doc_id",
    num_hashes: int = 4,
    num_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Flag each corpus row whose key has ALL bloom positions set
    (``bloom_hit`` boolean; false negatives impossible, false positives at
    the standard (1 - e^{-kn/m})^k rate — pinned in tests).

    Probe shape: k broadcast hash joins against the (aliased) bitmap, one
    per hash function, AND-ing the bit tests — completely STATELESS and
    SHUFFLE-FREE: the corpus never exchanges, each join's build side is the
    ~256 KB bitmap. (An earlier explode+groupBy(doc) formulation shuffled
    the corpus by id and, being an aggregate, could not run in a streaming
    micro-batch; this form is the streaming-compatible one used by
    streaming/ingest.py::streaming_bloom_decontaminate.) At 100 TB the
    exact alternative — an anti-join on the raw texts — would shuffle both
    sides in full; the bloom pass costs k map-side probes per row.

    ``id_col`` is retained in the signature for call-site clarity but the
    probe no longer needs a unique id (no group-back)."""
    out = corpus
    hit = F.lit(True)
    for i in range(num_hashes):
        p = _md5_long(F.col(key_col), f"b{i}") % num_bits
        out = out.withColumn(f"_p{i}", p)
        out = out.withColumn(
            f"_w{i}", F.expr(f"CAST(_p{i} DIV 32 AS BIGINT)")
        ).withColumn(
            f"_m{i}", F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 32 AS INT))")
        )
        bm = F.broadcast(
            bitmap.select(
                F.col("word").alias(f"_bw{i}"), F.col("bits").alias(f"_bb{i}")
            )
        )
        out = out.join(bm, F.col(f"_w{i}") == F.col(f"_bw{i}"), "left")
        # NULL key -> NULL position -> no join match and NULL mask: coalesce
        # the whole bit test to False so NULL text is never flagged
        hit = hit & F.coalesce(
            F.coalesce(F.col(f"_bb{i}"), F.lit(0)).bitwiseAND(F.col(f"_m{i}")) != 0,
            F.lit(False),
        )
    out = out.withColumn("bloom_hit", hit)
    drop = [f"_{c}{i}" for i in range(num_hashes) for c in ("p", "w", "m", "bw", "bb")]
    return out.drop(*drop)


def weighted_sample_es(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    *,
    id_col: str,
    salt: str = "esw",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group, via the
    Efraimidis-Spirakis key: rank rows by ln(u_i)/w_i descending (u_i a
    per-id uniform, w_i the weight) and keep the top k — provably equivalent
    to sequential draw-without-replacement with probability proportional to
    weight (for k=1, P(i wins) = w_i / sum w, pinned in tests). Where
    stratified_sample draws uniformly, this oversamples heavy rows — the
    token-weighted carve-out a training mix actually wants.

    One window per group (hash shuffle on group_col), map-side key
    computation. u_i comes from the md5 family with a +0.5/2^32 offset so
    u is strictly inside (0,1) — ln(0) never happens and any engine
    recomputes the identical sample from the ids alone (the audit
    property every deterministic-sampling operator here shares). ln/divide
    are IEEE doubles in every engine; the 32-bit u grid keeps competing
    keys far beyond ulp distance, so cross-engine ordering is stable.
    """
    c = F.col(id_col)
    bits = F.conv(
        F.substring(F.md5(F.concat_ws(":", c.cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("long")
    u = (bits + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col)
    w = W.partitionBy(group_col).orderBy(F.desc("_es_key"), id_col)
    return (
        df.withColumn("_es_key", key)
        .withColumn("_es_rk", F.row_number().over(w))
        .filter(F.col("_es_rk") <= k)
        .drop("_es_key", "_es_rk")
    )
