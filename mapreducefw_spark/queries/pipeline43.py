"""Round-12 registrations, batch 4: community detection on the
co-purchase graph — synchronous label propagation, oracle-paired.

1. ``label_propagation_communities`` — Raghavan et al. 2007 label
   propagation (LPA), the standard near-linear community detector, in
   its SYNCHRONOUS deterministic form: every node starts as its own
   label; each round simultaneously adopts the most frequent label among
   its neighbors, ties broken by smallest label (the deterministic
   variant used when reproducibility matters — random order/tiebreaks
   make canonical LPA nondeterministic, useless for an oracle-paired
   pipeline). LPA_ITERS fixed rounds over the part co-purchase graph
   (parts sharing an order, the ``pagerank_copurchase`` edge set).
2. ``community_quality_report`` — per-community structure numbers after
   the same propagation: member count, internal (within-community)
   directed edge count, total degree — the integer ingredients of
   modularity Q = sum_c(e_c/m - (d_c/2m)^2), left unassembled so the
   released columns stay exact BIGINTs.

Everything is integer arithmetic (label ids, counts), so BOTH queries
are oracle-EXACT with no rounding grid: the DuckDB oracle replays the
propagation as LPA_ITERS unrolled CTE stages (the ``pagerank_copurchase``
/ ``mmr_diversified_rerank`` unrolled-iteration oracle pattern), each a
neighbor-label count + ROW_NUMBER argmax.

Scale posture (100 TB of edges): the edge frame builds ONCE and pins with
localCheckpoint (every iteration reuses it in place — never re-shuffled);
each round is one edges-x-labels join with NO broadcast hint — the labels
are checkpointed, so AQE reads their true size and broadcasts while they
fit, falling back to a shuffle join on `src` once the node-sized frame
outgrows the threshold (a hard-coded hint here would OOM at graph scale —
ADVICE r12) — + a (dst, lbl) count whose pre-shuffle partials are
map-side combined + a single-exchange ``top1_per_key`` argmax (no
per-node window funnel, no second rank pass); per-round lineage
truncation keeps the plan iteration-shaped. At the shuffle-join end this is exactly the GraphX
shape: edges hashed by src once, labels shuffled to that partitioning
each round — node-sized per-iteration traffic (the
``pagerank_copurchase`` note).

Semantic contract with the reference engine: chained MapReduce jobs —
each round is map (tag neighbor labels) -> shuffle by (dst, lbl) ->
reduce (count) -> shuffle by dst -> reduce (argmax), the reference's
job shape iterated (`/root/reference/MRFCore.cpp:252-446`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducefw_spark.operators.persist import pin
from mapreducefw_spark.operators.rank import top1_per_key
from mapreducefw_spark.operators.textprep import ensure_parallelism
from mapreducefw_spark.queries import register
from mapreducefw_spark.queries._util import t

LPA_ITERS = 3  # fixed synchronous rounds (unrolled in the oracle)


def _lpa_ctes() -> str:
    """edges/nodes/l0..l{LPA_ITERS} shared by both oracles."""
    stages = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        stages.append(f"""
l{i} AS (
  SELECT node, lbl FROM (
    SELECT e.dst AS node, r.lbl AS lbl,
           ROW_NUMBER() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, r.lbl ASC) AS rn
    FROM edges e JOIN {prev} r ON e.src = r.node
    GROUP BY e.dst, r.lbl
  ) t WHERE rn = 1
)""")
        prev = f"l{i}"
    return f"""
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS (SELECT node, node AS lbl FROM nodes),
{','.join(stages)}
"""


def _lpa_final() -> str:
    return f"l{LPA_ITERS}"


def lpa_from_edges(edges: DataFrame, n_iters: int = LPA_ITERS) -> DataFrame:
    """(node, lbl) after ``n_iters`` synchronous rounds over a symmetric
    (src, dst) edge frame (pass it checkpointed — every round reuses it
    in place); per-round lineage cut.

    The per-round edges-x-labels join carries NO broadcast hint (ADVICE
    r12): the label frame is node-sized, and a forced broadcast would OOM
    the executors once the graph outgrows the broadcast threshold. The
    labels are localCheckpointed each round, so AQE sees their true
    materialized size and picks broadcast-hash while they fit (the small-
    fixture fast path) and falls back to a shuffle join on `src` once
    they don't — exactly the size-gated behavior a 100 TB graph needs,
    decided at runtime instead of hard-coded."""
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    # Round-1 shortcut (r14, exact algebra): labels start as the identity,
    # so every (dst, lbl=src) group over the DISTINCT symmetric edge set
    # counts exactly 1 and the (count DESC, lbl ASC) argmax degenerates to
    # MIN(src) — one map-side-combinable aggregate replaces the first
    # edges-x-labels join + count + argmax (two exchanges and the l0
    # distinct saved; every node appears as dst because edges are
    # symmetric). The oracle's unrolled l1 is identical by the same
    # argument; rounds 2+ run the general form below.
    rounds = n_iters
    if rounds >= 1:
        labels = pin(
            edges.groupBy("dst").agg(F.min("src").alias("lbl")).select(
                F.col("dst").alias("node"), "lbl"
            )
        )
        rounds -= 1
    for _ in range(rounds):
        counts = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy("dst", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # k=1 argmax as ONE partial-aggregable exchange (top1_per_key)
        # instead of topk_per_key's two window exchanges + sorts: min over
        # struct(-c, lbl) IS (c DESC, lbl ASC) — counts are >= 1 BIGINTs,
        # so the negation is exact and the order total. Identical labels.
        labels = pin(
            top1_per_key(
                counts, ["dst"], [(-F.col("c")).alias("nc"), F.col("lbl")], ["lbl"]
            ).select(F.col("dst").alias("node"), "lbl")
        )
    return labels


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Symmetric distinct co-purchase edges from a (l_orderkey, l_partkey)
    frame, checkpointed once."""
    # spread the SCAN side of the self-join (r14, guide §2.5): the pruned
    # 2-column lineitem scan is 3 tasks at sf0.1 (single-digit row
    # groups), so the broadcast-join pair explosion (600k rows -> 2.4M
    # pairs, stage-probed 2.7s wall / 2.7 CPU-s CPU-BOUND on those 3
    # tasks; the rows can sit in one of them) serializes there.
    # ensure_parallelism spreads the scan over every local core before the
    # join; distinct pairs are placement-free.
    li = ensure_parallelism(li)
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    # NOTE (r14 measured negative): repartitioning the edge frame below
    # the pin (so every round's join inherits 32 partitions instead of
    # AQE's 1-3) was tried and CPU-probed at 42 -> 64 CPU-s, wall
    # 6.26 -> 8.23s — per-round per-task overhead multiplies by the
    # round count. AQE's coalescing is right here; do not re-try blind.
    return pin(
        a.join(b, "k")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def lpa_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(edges, labels) after LPA_ITERS synchronous rounds on the fixture
    co-purchase graph."""
    edges = copurchase_edges(
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    )
    return edges, lpa_from_edges(edges)


@register(
    "label_propagation_communities",
    oracle=f"""
WITH {_lpa_ctes()}
SELECT node AS part, lbl AS community
FROM {_lpa_final()}
""",
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part community label after LPA_ITERS deterministic synchronous
    LPA rounds on the co-purchase graph — exact-integer oracle pairing."""
    _, labels = lpa_labels(spark, sf_dir)
    return labels.select(F.col("node").alias("part"), F.col("lbl").alias("community"))


@register(
    "community_quality_report",
    oracle=f"""
WITH {_lpa_ctes()},
fin AS (SELECT node, lbl FROM {_lpa_final()}),
tagged AS (
  SELECT ls.lbl AS src_lbl, ld.lbl AS dst_lbl
  FROM edges e
  JOIN fin ls ON e.src = ls.node
  JOIN fin ld ON e.dst = ld.node
)
SELECT f.lbl AS community,
       CAST(COUNT(DISTINCT f.node) AS BIGINT) AS n_nodes,
       CAST(COALESCE(ie.internal_edges, 0) AS BIGINT) AS internal_edges,
       CAST(COALESCE(dg.total_degree, 0) AS BIGINT) AS total_degree
FROM fin f
LEFT JOIN (
  SELECT src_lbl AS lbl, COUNT(*) AS internal_edges
  FROM tagged WHERE src_lbl = dst_lbl GROUP BY src_lbl
) ie ON ie.lbl = f.lbl
LEFT JOIN (
  SELECT src_lbl AS lbl, COUNT(*) AS total_degree FROM tagged GROUP BY src_lbl
) dg ON dg.lbl = f.lbl
GROUP BY f.lbl, ie.internal_edges, dg.total_degree
""",
)
def community_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity ingredients, all exact BIGINT: member
    count, internal directed-edge count, total degree (directed edge
    endpoints in the community). Q assembles downstream as
    sum_c(e_c/m - (d_c/2m)^2) without touching the released integers."""
    edges, labels = lpa_labels(spark, sf_dir)
    # no broadcast hint on the node-sized label frame (ADVICE r12, same
    # reasoning as lpa_from_edges): labels arrive checkpointed from the
    # final LPA round, so AQE size-gates the join strategy at runtime
    lb = labels
    tagged = edges.join(
        lb.select(F.col("node").alias("src"), F.col("lbl").alias("src_lbl")), "src"
    ).join(
        lb.select(F.col("node").alias("dst"), F.col("lbl").alias("dst_lbl")), "dst"
    )
    internal = (
        tagged.filter(F.col("src_lbl") == F.col("dst_lbl"))
        .groupBy(F.col("src_lbl").alias("lbl"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    degree = tagged.groupBy(F.col("src_lbl").alias("lbl")).agg(
        F.count(F.lit(1)).alias("total_degree")
    )
    members = labels.groupBy("lbl").agg(
        F.count_distinct("node").cast("bigint").alias("n_nodes")
    )
    return (
        members.join(internal, "lbl", "left")
        .join(degree, "lbl", "left")
        .select(
            F.col("lbl").alias("community"),
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0)).cast("bigint").alias(
                "internal_edges"
            ),
            F.coalesce("total_degree", F.lit(0)).cast("bigint").alias("total_degree"),
        )
    )
