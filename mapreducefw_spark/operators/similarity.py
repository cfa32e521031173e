"""Similarity search over embedding columns (SURVEY §7 M4c).

- brute_force_topk: exact cosine top-k. Query side broadcast, corpus side
  scanned once, per-query top-k via window. The exact baseline; O(|Q|·|C|).
- ivf_topk: IVF-style ANN. Corpus is assigned once to the nearest of k
  deterministic centroids (broadcast argmin — a map-only pass), queries probe
  only the nprobe nearest cells. At 100 TB the assignment is a one-off
  partitioning write (`partitionBy(cluster)`), and each query touches
  nprobe/k of the data.
- random_hyperplane_topk: LSH bucket variant — sign-bit signature from h
  deterministic hyperplanes, candidates share a bucket, exact rerank inside.

Distance math is JVM-side (zip_with/aggregate fold) everywhere the centroid
set is small; nearest-centroid assignment against a GROWING centroid set
(semantic_dedup's cells ∝ corpus) uses an Arrow-batched pandas UDF doing one
numpy matmul per batch — the measured crossover is brutal (~18us per
interpreted fold element vs ~0.6ns per matmul FLOP), and vectorized batch
math is precisely what pandas UDFs are for. No row-at-a-time Python UDFs.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type-hint strings resolve

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """zip_with/aggregate left fold — measured in r13 as the FASTEST dot
    form on this Spark build: an explicitly dim-unrolled
    ``a[0]*b[0] + a[1]*b[1] + ...`` codegen chain benchmarked ~5x SLOWER
    (0.37s vs 1.8s per 500k 64-dim pairs, 4th warmed rep), so the HOF
    stays. The optimization lever for pair-count work is FOLD COUNT, not
    fold form: stage each side's norm below the join (one fold per pair,
    not three) — see brute_force_topk / exact_rerank / semantic_dedup /
    random_hyperplane_topk."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(v: Column) -> Column:
    return F.sqrt(_dot(v, v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def filter_searchable(df: DataFrame, vec_col: str = "vec") -> DataFrame:
    """Keep only vectors cosine math is DEFINED on: non-NULL, no NULL
    elements, nonzero norm (one ``_norm > 0`` predicate rejects all
    three). Applied at every ANN entry point — a zero or NULL-element
    vector (a padding row, a failed embedding job) would otherwise raise
    an ANSI DIVIDE_BY_ZERO / propagate NULL sims deep inside the plan,
    the crash class the round-6 embeddings edge suite pinned for
    brute_force_topk."""
    return df.filter(_norm(F.col(vec_col)) > 0)


def l2_normalize(df: DataFrame, vec_col: str = "vec") -> DataFrame:
    """Unit-normalize ``vec_col`` in place (column ORDER preserved),
    computing the norm ONCE per row through a staged projection. Dividing
    inside ``F.transform`` by an inline ``_norm(vec)`` re-evaluates the
    full aggregate fold for EVERY element — O(dim^2) interpreted work per
    row on a corpus-sized pass; staging the scalar first keeps the fold
    linear. The staging column name is collision-proofed so a caller's
    own columns are never clobbered."""
    tmp = "_l2n"
    while tmp in df.columns:
        tmp += "_"
    # unsearchable vectors (zero norm / NULL elements) are dropped: unit
    # direction is undefined for them and x / 0 errors under ANSI. The
    # guard filters on the ALREADY-STAGED norm scalar — filtering via
    # filter_searchable first would re-evaluate the O(dim) fold in the
    # Filter operator (subexpression elimination doesn't span Filter and
    # Project), doubling the dominant per-row cost.
    normed = F.transform(vec_col, lambda x: x / F.col(tmp)).alias(vec_col)
    return df.withColumn(tmp, _norm(F.col(vec_col))).filter(F.col(tmp) > 0).select(
        *[normed if c == vec_col else F.col(c) for c in df.columns]
    )


def as_double_vecs(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Loader for the similarity tier. NULL-id rows are dropped: an
    unaddressable vector can't be returned, deduped against (keep-first
    needs an orderable id) or seed a centroid (NULL ids sort first and
    crash the numpy centroid collect); oracles of as_double_vecs-backed
    queries carry the matching vec_id IS NOT NULL filter."""
    from mapreducefw_spark.operators.textprep import ensure_parallelism

    return (
        ensure_parallelism(df)
        .filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("vec")
        )
    )


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, *, exclude_self: bool = True
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    corpus/queries: (vid, vec) as produced by as_double_vecs.
    Returns (qid, nid, sim, rk) with deterministic tie-break on nid.
    """
    # Compute each side's norm ONCE, below the join (the projection feeding a
    # join is not collapsed into the post-join projection), so the per-pair
    # work is a single dot fold + divide. Inlining cosine() above the join
    # instead re-derives the corpus norm once per query — 3 folds per pair.
    # searchable-vector guard: NULL vectors, vectors with NULL elements
    # and ZERO vectors are excluded (norm NULL or 0 fails > 0). Without it
    # a zero vector crashes the cosine divide under ANSI — and DuckDB's
    # list_cosine_similarity would meanwhile return -1.0 for the same
    # pair, so the guard is also what keeps the oracle pairing symmetric.
    q = queries.select(
        F.col("vid").alias("qid"), F.col("vec").alias("qvec"), _norm(F.col("vec")).alias("qn")
    ).filter(F.col("qn") > 0)
    c = corpus.select(
        F.col("vid").alias("nid"), F.col("vec").alias("nvec"), _norm(F.col("vec")).alias("nn")
    ).filter(F.col("nn") > 0)
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("nid"))
    sim = F.round(_dot(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("nn")), 6)
    # two-phase per-query top-k: a plain qid window sorts each query's
    # ENTIRE scored corpus in one task (operators/rank.py::topk_per_key)
    from mapreducefw_spark.operators.rank import topk_per_key

    return topk_per_key(
        pairs.select("qid", "nid", sim.alias("sim")),
        ["qid"],
        [F.desc("sim"), F.col("nid")],
        k,
    )


def assign_ivf_cells(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Map-only pass: each corpus vector -> nearest centroid id (broadcast argmin)."""
    cents = F.broadcast(
        centroids.groupBy().agg(
            F.collect_list(F.struct(F.col("vid").alias("cid"), F.col("vec").alias("cvec"))).alias("cs")
        )
    )
    scored = corpus.crossJoin(cents).select(
        "vid",
        "vec",
        F.array_max(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    cosine(F.col("vec"), c["cvec"]).alias("sim"), c["cid"].alias("cid")
                ),
            )
        ).alias("best"),
    )
    return scored.select("vid", "vec", F.col("best.cid").alias("cell"))


def assign_cells_vectorized(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Map-only nearest-centroid assignment via an Arrow-batched pandas UDF:
    one (batch x dim) @ (dim x n_cells) numpy matmul per Arrow batch.

    The expression-tree form (assign_ivf_cells) evaluates an interpreted
    higher-order cosine fold per (row, centroid) — ~18us/element measured,
    which turns quadratic-feeling the moment n_cells grows with the corpus
    (256 centroids x 32k rows = 212s on local[32]). This is exactly the case
    the PySpark guidance reserves pandas UDFs for: dense-vector math the
    built-in expressions can't vectorize. Same work as a numpy matmul: 0.3s.

    The centroid matrix is collected driver-side and closure-broadcast — it
    is MODEL-sized, O(n_cells x dim) (the standard broadcast-variable
    pattern for ML scoring), never corpus-sized; the corpus itself streams
    through Arrow batches. Ties broadcast to the lowest centroid id
    (np.argmax takes the first max); the expression form breaks ties high —
    float ties are measure-zero and each form is deterministic.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # O(n_cells * dim): model, not data — driver-side sort (see pq_topk)
    cents = sorted(centroids.collect(), key=lambda r: r.vid)
    if not cents:
        # no centroids (empty corpus slice): no cell is assignable — keep
        # the schema, emit NULL cells, never reach the 0-row numpy matmul
        return corpus.select("vid", "vec", F.lit(None).cast("long").alias("cell"))
    cmat = np.asarray([r.vec for r in cents], dtype=np.float64)
    cmat = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-300)
    cids = np.asarray([r.vid for r in cents], dtype=np.int64)

    @pandas_udf("long")
    def best_cell(vecs: pd.Series) -> pd.Series:
        # explicit rank (see pq_encode): zero-row batches stay (0, dim)
        m = np.asarray(vecs.tolist(), dtype=np.float64).reshape(
            len(vecs), cmat.shape[1]
        )
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
        return pd.Series(cids[np.argmax(m @ cmat.T, axis=1)])

    return corpus.select("vid", "vec", best_cell("vec").alias("cell"))


def kmeans_refine(corpus: DataFrame, centroids: DataFrame, iters: int = 2) -> DataFrame:
    """Lloyd iterations in pure DataFrame ops: assign (broadcast argmin) ->
    per-cell component means (posexplode + groupBy(cell, dim)) -> rebuild
    arrays. Deterministic up to float-summation order, which only moves
    borderline assignments — acceptable for an ANN cell structure."""
    for _ in range(iters):
        assigned = assign_ivf_cells(corpus, centroids)
        comp = assigned.select("vid", "cell", F.posexplode("vec").alias("dim", "x"))
        means = comp.groupBy("cell", "dim").agg(F.avg("x").alias("m"))
        centroids = (
            means.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                F.col("cell").alias("vid"),
                F.transform("dm", lambda s: s["m"]).alias("vec"),
            )
        )
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    n_cells: int = 16,
    nprobe: int = 4,
    exclude_self: bool = True,
    kmeans_iters: int = 1,
) -> DataFrame:
    """ANN via inverted-file cells: deterministic seed centroids (the n_cells
    lowest-id corpus vectors) optionally refined by k-means iterations."""
    corpus = filter_searchable(corpus)
    queries = filter_searchable(queries)
    centroids = corpus.orderBy("vid").limit(n_cells)
    if kmeans_iters > 0:
        centroids = kmeans_refine(corpus, centroids, iters=kmeans_iters)
    cells = assign_ivf_cells(corpus, centroids)
    qcells = (
        assign_probe_cells(queries, centroids, nprobe)
        .select(F.col("vid").alias("qid"), F.col("vec").alias("qvec"), F.explode("probe").alias("cell"))
    )
    pairs = qcells.join(cells, "cell").select(
        "qid", "qvec", F.col("vid").alias("nid"), F.col("vec").alias("nvec")
    )
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("nid"))
    sim = F.round(cosine(F.col("qvec"), F.col("nvec")), 6)
    from mapreducefw_spark.operators.rank import topk_per_key

    return topk_per_key(
        pairs.select("qid", "nid", sim.alias("sim")),
        ["qid"],
        [F.desc("sim"), F.col("nid")],
        k,
    )


def assign_probe_cells(queries: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """Per query: the nprobe nearest centroid ids (broadcast, JVM-side sort)."""
    cents = F.broadcast(
        centroids.groupBy().agg(
            F.collect_list(F.struct(F.col("vid").alias("cid"), F.col("vec").alias("cvec"))).alias("cs")
        )
    )
    scored = queries.crossJoin(cents).select(
        "vid",
        "vec",
        F.transform(
            F.col("cs"),
            lambda c: F.struct((-cosine(F.col("vec"), c["cvec"])).alias("negsim"), c["cid"].alias("cid")),
        ).alias("scored"),
    )
    probe = F.transform(F.slice(F.array_sort("scored"), 1, nprobe), lambda s: s["cid"])
    return scored.select("vid", "vec", probe.alias("probe"))


def random_hyperplane_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 1,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """LSH ANN: bucket by the sign pattern of n_planes deterministic
    hyperplanes; exact rerank on the candidate set.

    Multi-table OR-construction (n_tables > 1): each table draws its own
    hyperplane family, a pair is a candidate if it shares the FULL signature
    in ANY table. Recall for a pair at angle θ is 1-(1-p^n_planes)^n_tables
    with p = 1-θ/π — a single table is very selective but misses most true
    neighbors (AND-only), so production configs run several tables. The
    bucket join carries (table, sig) keys; candidates are deduped as bare
    (qid, nid) id pairs BEFORE vectors are joined back for the rerank, so the
    distinct shuffle never carries embeddings.

    dim is caller-supplied (it's table metadata, like any vector store keeps):
    sniffing it from a row would run a Spark action during plan construction,
    and a mismatched dim would null every dot product via zip_with padding and
    silently collapse all vectors into one bucket — so it must be right, and
    known up front."""
    if dim <= 0:
        raise ValueError(f"dim must be a positive vector length, got {dim}")
    corpus = filter_searchable(corpus)
    queries = filter_searchable(queries)
    import hashlib

    def component(t: int, p: int, i: int) -> float:
        # deterministic pseudo-random ±1 from (table, plane, dim index),
        # computed driver-side so the plan carries plain float literals
        digest = hashlib.sha256(f"{t}:{p}:{i}".encode()).digest()
        return 1.0 if digest[0] % 2 == 0 else -1.0

    def signature_sql(vec_sql: str, t: int) -> str:
        # ONE SQL string per table instead of ~dim x n_planes Column ops:
        # building this tree through F.lit/F.when costs a py4j round trip
        # PER CALL (~0.25ms each), which r14 profiling measured as 7.5s of
        # DRIVER time per ann-tier query construction (guide §7.3 — the
        # driver was the bottleneck, not the executors). The parsed
        # expression is the same fold over the same double literals in the
        # same order (repr() round-trips the ±1.0 components exactly), so
        # every signature bit — and therefore every bucket, candidate and
        # result — is bit-identical to the Column-built form.
        bits = []
        for p in range(n_planes):
            arr = ", ".join(f"{component(t, p, i)!r}D" for i in range(dim))
            dot = (
                f"aggregate(zip_with({vec_sql}, array({arr}), (x, y) -> x * y), "
                f"0.0D, (acc, x) -> acc + x)"
            )
            bits.append(
                f"shiftleft(CAST((CASE WHEN {dot} > 0.0D THEN 1 ELSE 0 END) AS BIGINT), {p})"
            )
        return "CAST(0 AS BIGINT) + " + " + ".join(bits)

    def sigs(df: DataFrame, id_alias: str) -> DataFrame:
        structs = ", ".join(
            f"named_struct('table', {t}, 'sig', {signature_sql('vec', t)})"
            for t in range(n_tables)
        )
        per_table = F.expr(f"array({structs})")
        return df.select(
            F.col("vid").alias(id_alias), F.explode(per_table).alias("ts")
        ).select(id_alias, F.col("ts.table").alias("table"), F.col("ts.sig").alias("sig"))

    cand = (
        sigs(queries, "qid")
        .join(sigs(corpus, "nid"), ["table", "sig"])
        .select("qid", "nid")
        .distinct()
    )
    if exclude_self:
        cand = cand.filter(F.col("qid") != F.col("nid"))
    # Each side's norm is staged BELOW the rerank join (the brute_force_topk
    # trick): inlining cosine() above the join re-derives both norms once
    # per PAIR — 3 folds per candidate pair where 1 suffices. Same doubles
    # (the per-vector fold is identical), ~3x less of the dominant cost.
    qside = queries.select(
        F.col("vid").alias("qid"),
        F.col("vec").alias("qvec"),
        _norm(F.col("vec")).alias("_qn"),
    )
    # Search mode (small query set): forcing a broadcast of the query vectors
    # keeps the rerank join shuffle-free. Dedup mode (queries == corpus, e.g.
    # embedding_lsh_dedup) MUST NOT force it — a corpus-sized F.broadcast
    # ignores autoBroadcastJoinThreshold and would hit the 8 GB broadcast
    # limit / driver OOM at scale, so that path takes the ordinary shuffle
    # join and lets AQE pick the strategy.
    if broadcast_queries:
        qside = F.broadcast(qside)
    pairs = cand.join(
        corpus.select(
            F.col("vid").alias("nid"),
            F.col("vec").alias("nvec"),
            _norm(F.col("vec")).alias("_nn"),
        ),
        "nid",
    ).join(qside, "qid")
    # NOTE (r14 measured negative): a repartition(defaultParallelism) here
    # — to spread the rerank fold off the 5 AQE-coalesced tasks (6.5
    # CPU-s, 1.7s wall on hard_negative_pairs_ann) — roughly DOUBLED the
    # query's executor CPU (~13.6 -> 28.4 CPU-s): the extra exchange
    # carries both 64-dim vectors per pair, and serializing them costs
    # more than the fold it parallelizes (guide §2.3: don't move heavy
    # payloads an extra time). The bytes-vs-CPU under-split is real but
    # the production knob is AQE's advisoryPartitionSizeInBytes on the
    # cluster profile, not an extra vector shuffle.
    sim = F.round(
        _dot(F.col("qvec"), F.col("nvec")) / (F.col("_qn") * F.col("_nn")), 6
    )
    from mapreducefw_spark.operators.rank import topk_per_key

    return topk_per_key(
        pairs.select("qid", "nid", sim.alias("sim")),
        ["qid"],
        [F.desc("sim"), F.col("nid")],
        k,
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    n_cells: int = 16,
    threshold: float = 0.4,
    kmeans_iters: int = 1,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, then compare
    vectors ONLY within their cluster — near-duplicate meaning is local, so
    the O(n²) global compare collapses to Σ|cell|² ≈ n²/k, and each cell's
    compare is an independent task. This is the published recipe for
    embedding-level dedup at web scale (the LSH-bucketed form in
    random_hyperplane_topk is the other standard route; k-means cells give
    better recall when the corpus is genuinely clustered).

    corpus: (vid, vec) from as_double_vecs. Returns (vid, cell, dup_of):
    dup_of = lowest same-cell vid with cosine >= threshold among lower ids,
    NULL for kept docs — the same keep-first rule as the exact-hash dedup
    tier, so downstream filters are uniform across dedup operators.
    Unsearchable vectors (NULL / NULL-element / zero) are excluded up
    front — they have no cosine neighborhood, and would otherwise crash
    the within-cell divide under ANSI.

    max_cell_size guards the 100 TB failure mode (one mega-cell turning
    quadratic): cells are truncated to their max_cell_size lowest-vid
    members for PAIR GENERATION (extra members are never dropped from the
    output, they just aren't compared — recall degrades gracefully, cost
    stays bounded). Production would instead split hot cells by recursing
    k-means; the cap keeps this operator one pass.
    """
    corpus = filter_searchable(corpus)
    centroids = corpus.orderBy("vid").limit(n_cells)
    if kmeans_iters > 0:
        centroids = kmeans_refine(corpus, centroids, iters=kmeans_iters)
    # Vectorized (Arrow/numpy) assignment is the scale path — the
    # expression-tree fold costs ~18us per (row, centroid) interpreted and
    # n_cells grows with the corpus under the SemDeDup deployment rule.
    # One materialization: both join sides and the output read the same
    # assignment (kmeans lineage would otherwise re-run per branch).
    cells = assign_cells_vectorized(corpus, centroids).localCheckpoint(eager=False)
    compare = cells
    if max_cell_size is not None:
        w = W.partitionBy("cell").orderBy("vid")
        compare = (
            cells.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_cell_size)
            .drop("_rn")
        )
    # norms staged BELOW the within-cell join (the brute_force_topk trick):
    # the quadratic pair filter then pays ONE dot fold per pair instead of
    # three. Same doubles — the per-vector fold is unchanged.
    a = compare.select(
        "cell",
        F.col("vid").alias("a_id"),
        F.col("vec").alias("a_vec"),
        _norm(F.col("vec")).alias("_an"),
    )
    b = compare.select(
        "cell",
        F.col("vid").alias("b_id"),
        F.col("vec").alias("b_vec"),
        _norm(F.col("vec")).alias("_bn"),
    )
    dup = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            _dot(F.col("a_vec"), F.col("b_vec")) / (F.col("_an") * F.col("_bn"))
            >= threshold
        )
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
    )
    return (
        cells.select("vid", "cell")
        .join(dup, cells["vid"] == dup["b_id"], "left")
        .select("vid", "cell", "dup_of")
    )


def quantize_int8(df: DataFrame) -> DataFrame:
    """(vid, vec array<double>) -> (vid, qvec array<int>): symmetric
    per-vector int8 scalar quantization, q_i = floor(x_i * 127/max|x| + 0.5).

    The floor-form round is bit-identical in every engine (round() is
    HALF_UP in Spark but not everywhere); zero vectors are dropped (no
    direction to preserve). The 100 TB win is bytes: int8 vectors are 8x
    smaller than doubles in shuffle and scan, and candidate scoring below
    stays integer until the final divide.
    """
    maxabs = F.array_max(F.transform("vec", lambda x: F.abs(x)))
    scale = F.lit(127.0) / maxabs
    q = F.transform("vec", lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))
    # array_max SKIPS NULL elements, so maxabs > 0 alone would keep a
    # vector with NULL components and emit NULL quantized entries
    # (DuckDB's list_dot_product then ERRORS on them) — exclude them
    has_null = F.exists("vec", lambda x: x.isNull())
    return df.filter((maxabs > 0) & ~has_null).select("vid", q.alias("qvec"))


def quantized_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, *, exclude_self: bool = True
) -> DataFrame:
    """Exact top-k over int8-quantized vectors (the memory-bound ANN baseline:
    same O(|Q|·|C|) shape as brute_force_topk at 1/8 the bytes; integer dot
    products are exact in double up to 2^53, so results are deterministic and
    engine-reproducible). corpus/queries: (vid, qvec) from quantize_int8."""
    q = queries.select(
        F.col("vid").alias("qid"), F.col("qvec").alias("qv"), _norm(F.col("qvec")).alias("qn")
    )
    c = corpus.select(
        F.col("vid").alias("nid"), F.col("qvec").alias("nv"), _norm(F.col("qvec")).alias("nn")
    )
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("nid"))
    sim = F.round(_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6)
    from mapreducefw_spark.operators.rank import topk_per_key

    return topk_per_key(
        pairs.select("qid", "nid", sim.alias("sim")),
        ["qid"],
        [F.desc("sim"), F.col("nid")],
        k,
    )


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
):
    """Train product-quantization codebooks (Jégou et al., PQ for nearest
    neighbor search): split the vector into ``m`` contiguous subspaces and
    run k-means with ``k`` centroids INDEPENDENTLY per subspace. Returns a
    numpy array of shape (m, k, dim/m) — a MODEL (m*k*dim floats total, the
    same broadcast-variable class as the IVF centroid matrix), never data.

    Distributed shape: every Lloyd iteration is one Arrow-batched encode
    pass over the corpus (all m subspaces assigned in a single UDF — one
    numpy matmul per subspace per batch) plus one componentwise-mean
    groupBy of (subspace, code, dim) — O(m*k*dim/m) groups. Only the model
    is ever collected. Seeds are the md5-order first k vectors' subvectors:
    deterministic across runs and partitionings (same trick as the
    reservoir/shard operators), so retraining on the same corpus yields
    the same codebooks up to float-summation order in the means.
    """
    import numpy as np

    corpus = filter_searchable(corpus)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d0 = dim // m
    seed_rows = (
        corpus.orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(k)
        .orderBy("vid")
        .collect()
    )
    books = np.asarray(
        [[list(r.vec[s * d0 : (s + 1) * d0]) for r in seed_rows] for s in range(m)],
        dtype=np.float64,
    )  # (m, k, d0)

    for _ in range(iters):
        # corpus passed the searchable guard at the top of this function
        coded = pq_encode(corpus, books, assume_searchable=True)
        comp = coded.select(
            F.posexplode("codes").alias("s", "code"),
            F.col("vec"),
        ).select(
            "s",
            "code",
            F.posexplode(
                F.slice(
                    "vec",
                    F.col("s") * d0 + 1,
                    d0,
                )
            ).alias("d", "x"),
        )
        means = (
            comp.groupBy("s", "code", "d").agg(F.avg("x").alias("mu")).collect()
        )
        for r in means:  # model-sized: m*k*d0 rows
            books[r.s, r.code, r.d] = r.mu
    return books


def pq_encode(corpus: DataFrame, books, *, assume_searchable: bool = False) -> DataFrame:
    """Encode each vector to ``m`` byte codes (argmin L2 per subspace) via
    an Arrow-batched pandas UDF — one (batch x d0) @ (d0 x k) matmul per
    subspace per batch; the codebook rides the closure as a model-sized
    broadcast. Output: the input columns plus ``codes array<int>`` (dim
    floats -> m bytes is the 8-32x memory/shuffle win that makes
    billion-scale ANN fit in RAM). Carried columns (e.g. an IVF cell id)
    ride along so callers never need a self-join to re-attach them —
    the join form evaluated the encode UDF twice (r10 plan audit).

    ``assume_searchable=True`` skips the searchable guard for callers
    whose input already passed it (l2_normalize output, an
    assign_cells_vectorized chain): the redundant guard is an O(dim)
    interpreted fold per row AND a Filter between UDF projections that
    blocks Catalyst from fusing this encode with an upstream pandas UDF
    into one ArrowEvalPython pass (r10 plan audit: the IVF chain ran 3
    Arrow roundtrips where 2 suffice)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if not assume_searchable:
        corpus = filter_searchable(corpus)
    m, k, d0 = books.shape
    bmat = np.asarray(books, dtype=np.float64)
    sq = (bmat**2).sum(axis=2)  # (m, k)

    @pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        # explicit rank: a zero-row Arrow batch gives shape (0,), whose
        # subspace slices would IndexError — pin (n, dim)
        x = np.asarray(vecs.tolist(), dtype=np.float64).reshape(
            len(vecs), m * d0
        )  # (n, dim)
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for s in range(m):
            xs = x[:, s * d0 : (s + 1) * d0]
            # ||x - c||^2 = ||c||^2 - 2<x, c> + const(x): argmin drops const
            out[:, s] = np.argmin(sq[s] - 2.0 * (xs @ bmat[s].T), axis=1)
        return pd.Series(list(out))

    return corpus.withColumn("codes", codes("vec"))


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    books,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query precomputes an (m x k)
    lookup table of exact query-subvector x centroid inner products; a
    corpus row's approximate similarity is m table lookups summed — no
    float vector math per pair, which is PQ's entire point at scale.

    The query LUTs are model-sized (n_queries * m * k) and ride the UDF
    closure; corpus codes stream through Arrow batches (n x m int32 numpy
    fancy-indexing per batch). Per-query top-k is the same bounded window
    as the other ANN forms. Output: ``qid, nid, sim, rk`` with sim the ADC
    inner-product estimate rounded to 6 places."""
    queries = filter_searchable(queries)
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m, kk, d0 = books.shape
    bmat = np.asarray(books, dtype=np.float64)
    # search mode: query set is small — collect unordered and sort
    # driver-side (a distributed orderBy pays a range-partition sampling
    # job just to order rows the driver is about to hold anyway)
    qrows = sorted(queries.collect(), key=lambda r: r.vid)
    qids = np.asarray([r.vid for r in qrows], dtype=np.int64)
    # an empty query set collapses to shape (0,): keep the (nq, dim) rank
    # so the subspace slices below stay well-formed and the plan yields
    # zero rows instead of a driver-side IndexError
    qmat = np.asarray([r.vec for r in qrows], dtype=np.float64).reshape(
        len(qrows), m * d0
    )
    luts = np.stack(
        [qmat[:, s * d0 : (s + 1) * d0] @ bmat[s].T for s in range(m)], axis=1
    )  # (nq, m, k)

    @pandas_udf("array<double>")
    def adc(codes: pd.Series) -> pd.Series:
        # explicit rank (the pq_encode zero-row contract): (n, m), never (0,)
        c = np.asarray(codes.tolist(), dtype=np.int64).reshape(len(codes), m)
        sims = np.zeros((luts.shape[0], c.shape[0]))  # (nq, n)
        for s in range(m):  # m is small; each step is one fancy-index gather
            sims += luts[:, s, :][:, c[:, s]]
        return pd.Series(list(np.round(sims.T, 6)))

    scored = corpus_codes.select("vid", adc("codes").alias("sims")).select(
        F.col("vid").alias("nid"),
        F.posexplode("sims").alias("qpos", "sim"),
    )
    qid_arr = F.array(*[F.lit(int(q)) for q in qids])
    from mapreducefw_spark.operators.rank import topk_per_key

    return topk_per_key(
        scored.select(F.get(qid_arr, F.col("qpos")).alias("qid"), "nid", "sim")
        .filter(F.col("qid") != F.col("nid")),
        ["qid"],
        [F.desc("sim"), F.col("nid")],
        k,
    )


def exact_rerank(cand: DataFrame, corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Second stage of any retrieve-then-rerank ANN: exact cosine over the
    candidate (qid, nid) pairs only — candidate-count work, never corpus^2.
    Query vectors broadcast (search mode: model-sized). Norms are staged
    below the join: one dot fold per pair, not three — same doubles."""
    pairs = cand.select("qid", "nid").join(
        filter_searchable(corpus).select(
            F.col("vid").alias("nid"),
            F.col("vec").alias("nvec"),
            _norm(F.col("vec")).alias("_nn"),
        ),
        "nid",
    ).join(
        F.broadcast(
            filter_searchable(queries).select(
                F.col("vid").alias("qid"),
                F.col("vec").alias("qvec"),
                _norm(F.col("vec")).alias("_qn"),
            )
        ),
        "qid",
    )
    sim = F.round(
        _dot(F.col("qvec"), F.col("nvec")) / (F.col("_qn") * F.col("_nn")), 6
    )
    from mapreducefw_spark.operators.rank import topk_per_key

    return topk_per_key(
        pairs.select("qid", "nid", sim.alias("sim")),
        ["qid"],
        [F.desc("sim"), F.col("nid")],
        k,
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books,
    k: int = 5,
    *,
    n_cells: int = 16,
    nprobe: int = 4,
    retrieve: int = 50,
) -> DataFrame:
    """IVF-ADC (the billion-scale composition from the PQ paper): corpus
    vectors live in inverted-file cells AND as m-byte PQ codes; a query
    touches only its ``nprobe`` nearest cells, scores those candidates by
    ADC table lookups (no float vector math), and exact-reranks the
    ``retrieve`` best to the final ``k``. Per-query cost is
    nprobe/n_cells of the corpus in BYTE CODES plus ``retrieve`` float
    rows — the product of IVF's scan cut and PQ's memory cut.

    ``corpus``/``queries`` are (vid, vec) — pass normalized vectors so the
    ADC inner product ranks by cosine. ``books`` comes from pq_train on
    the same corpus. Cells use the deterministic lowest-vid seed centroids
    (same as ivf_topk's kmeans_iters=0 form); the vectorized assigner
    handles growing cell counts. Output: ``qid, nid, sim, rk`` (exact
    cosine after rerank).
    """
    corpus = filter_searchable(corpus)
    queries = filter_searchable(queries)
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m, kk, d0 = books.shape
    bmat = np.asarray(books, dtype=np.float64)
    centroids = corpus.orderBy("vid").limit(n_cells)
    cells = assign_cells_vectorized(corpus, centroids)
    # cell rides through the encode (pq_encode preserves carried columns):
    # the former join-back form evaluated the cell-assignment UDF twice —
    # once per join side — and paid a vid shuffle for the re-attach.
    # assume_searchable: cells derive from the guarded corpus above, and
    # skipping the redundant guard lets Catalyst fuse the cell-assignment
    # and encode UDFs into ONE ArrowEvalPython pass (3 -> 2 roundtrips)
    coded = pq_encode(cells, books, assume_searchable=True)

    # search mode: model-sized — driver-side sort (see pq_topk)
    qrows = sorted(queries.collect(), key=lambda r: r.vid)
    # rank guard: empty query set -> (0, dim), not (0,) (same contract as
    # pq_topk — zero rows out, never a driver-side IndexError)
    qmat = np.asarray([r.vec for r in qrows], dtype=np.float64).reshape(
        len(qrows), m * d0
    )
    luts = np.stack(
        [qmat[:, s * d0 : (s + 1) * d0] @ bmat[s].T for s in range(m)], axis=1
    )  # (nq, m, kk)
    qidx = {int(r.vid): i for i, r in enumerate(qrows)}

    probes = assign_probe_cells(queries, centroids, nprobe).select(
        F.col("vid").alias("qid"), F.explode("probe").alias("cell")
    )
    cand = probes.join(coded.select("vid", "codes", "cell"), "cell").filter(
        F.col("qid") != F.col("vid")
    )

    @pandas_udf("double")
    def adc_pair(qid: pd.Series, codes: pd.Series) -> pd.Series:
        qi = qid.map(qidx).to_numpy(dtype=np.int64)
        # explicit rank (the pq_encode zero-row contract): (n, m), never (0,)
        c = np.asarray(codes.tolist(), dtype=np.int64).reshape(len(codes), m)
        sims = np.zeros(len(qi))
        for s in range(m):
            sims += luts[qi, s, c[:, s]]
        return pd.Series(np.round(sims, 6))

    from mapreducefw_spark.operators.rank import topk_per_key

    shortlist = topk_per_key(
        cand.withColumn("adc", adc_pair("qid", "codes")),
        ["qid"],
        [F.desc("adc"), F.col("vid")],
        retrieve,
    ).select("qid", F.col("vid").alias("nid"))
    return exact_rerank(shortlist, corpus, queries, k)
