"""Third-implementation pins: padding waste, hard negatives, dedup clusters.

`padding_waste_report` and `hard_negative_pairs` share their algebra with
their DuckDB oracles (I authored both sides), so a transcription bug could
self-confirm. Each is recomputed here from the LITERAL definition in pure
Python (math + sorting, no Spark/DuckDB expressions) over constructed
fixtures with known structure, and the registered queries must reproduce
the values exactly. `embedding_dedup_clusters` is pinned by consistency:
its cluster histogram must equal a pure-Python union-find over
`embedding_lsh_dedup_portable`'s pair output on the same corpus — tying
the components query to the pair query through a third algorithm
(union-find vs Spark's label propagation vs the oracle's recursive
closure).
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreducefw_spark.queries import QUERIES, load_all

load_all()


# --- padding_waste_report ----------------------------------------------

# texts with exactly 1, 2, 3, 5, 8 and 16 whitespace tokens -> caps
# 1, 2, 4, 8, 8, 16 (8 is an exact power: pads to itself, not 16)
PAD_TEXTS = [
    "one",
    "two tokens",
    "three little tokens",
    "five tokens in this text",
    "eight tokens exactly in this little text here",
    "sixteen tokens exactly in this much longer text body that keeps "
    "going until sixteen",
]


def _pad_brute():
    buckets: dict[int, list[int]] = {}
    for t in PAD_TEXTS:
        n = len(t.split(" "))
        cap = 1 if n <= 1 else 1 << (n - 1).bit_length()
        buckets.setdefault(cap, []).append(n)
    out = {}
    for cap, toks in buckets.items():
        slots = cap * len(toks)
        out[cap] = (
            len(toks),
            sum(toks),
            slots,
            round(1.0 - sum(toks) / slots, 6),
        )
    return out


@pytest.fixture(scope="module")
def pad_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("r10pad") / "db"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(PAD_TEXTS)), pa.int64()),
                "text": pa.array(PAD_TEXTS, pa.string()),
                "lang": pa.array(["en"] * len(PAD_TEXTS), pa.string()),
                "source": pa.array(["s"] * len(PAD_TEXTS), pa.string()),
                "n_chars": pa.array([len(t) for t in PAD_TEXTS], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_padding_waste_equals_pure_python_definition(spark, pad_dir):
    want = _pad_brute()
    got = {
        r["bucket_cap"]: (
            r["n_docs"],
            r["total_tokens"],
            r["padded_slots"],
            r["waste_frac"],
        )
        for r in QUERIES["padding_waste_report"](spark, pad_dir).collect()
    }
    assert got == want
    # structure sanity: the 8-token doc must share cap 8 with the 5-token
    # doc (exact powers pad to themselves), and cap 1 has zero waste
    assert want[8][0] == 2 and want[1][3] == 0.0


# --- hard_negative_pairs -------------------------------------------------

# 4-dim vectors with hand-controlled geometry; labels include a NULL
# (its own class) and an anchor with no same-label partner (must drop)
HN_VECS = [
    # (vec_id, vec, label)
    (0, [1.0, 0.0, 0.0, 0.0], 1),
    (1, [0.9, 0.1, 0.0, 0.0], 1),   # strong positive for 0
    (2, [0.8, 0.2, 0.0, 0.0], 2),   # hard negative for 0/1
    (3, [0.0, 1.0, 0.0, 0.0], 2),
    (4, [0.0, 0.0, 1.0, 0.0], None),  # NULL label, alone: no positive
    (5, [0.0, 0.0, 0.9, 0.1], 3),     # label 3, alone: no positive
]


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return round(d / (na * nb), 6)


def _hn_brute():
    out = {}
    for aid, avec, alabel in HN_VECS:
        sims = [
            (nid, nlabel, _cos(avec, nvec))
            for nid, nvec, nlabel in HN_VECS
            if nid != aid
        ]
        same = [(s, nid) for nid, nl, s in sims if nl == alabel]
        if not same:
            continue  # no positive -> anchor drops
        pos_sim, pos_id = max(((s, -nid) for s, nid in same))
        pos_id = -pos_id
        cross = [(s, nid) for nid, nl, s in sims if nl != alabel]
        if cross:
            h_sim, h_id = max(((s, -nid) for s, nid in cross))
            h_id = -h_id
            n_hard = sum(1 for s, _ in cross if s >= pos_sim - 0.1)
        else:
            h_sim = h_id = None
            n_hard = 0
        out[aid] = (pos_id, pos_sim, h_id, h_sim, n_hard)
    return out


@pytest.fixture(scope="module")
def hn_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("r10hn") / "db"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in HN_VECS], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in HN_VECS], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in HN_VECS], pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d)


def test_hard_negatives_equal_pure_python_definition(spark, hn_dir):
    # float32 storage: recompute the brute truth from the ROUND-TRIPPED
    # float32 values, exactly what both engines read from parquet
    global HN_VECS
    rounded = [
        (vid, [float(pa.scalar(x, pa.float32()).as_py()) for x in vec], lbl)
        for vid, vec, lbl in HN_VECS
    ]
    old, HN_VECS = HN_VECS, rounded
    try:
        want = _hn_brute()
    finally:
        HN_VECS = old
    got = {
        r["anchor"]: (
            r["pos_id"],
            r["pos_sim"],
            r["hard_neg_id"],
            r["hard_neg_sim"],
            r["n_hard"],
        )
        for r in QUERIES["hard_negative_pairs"](spark, hn_dir).collect()
    }
    assert got == want
    # structure sanity: anchors 4 (lone NULL label) and 5 (lone label 3)
    # dropped; anchor 0's hardest negative is the constructed vec 2
    assert set(got) == {0, 1, 2, 3}
    assert got[0][2] == 2 and got[0][4] >= 1


# --- embedding_dedup_clusters: union-find consistency pin ----------------


def test_dedup_clusters_match_union_find_over_lsh_pairs(spark, sf_dir):
    pairs = [
        (r["id_a"], r["id_b"])
        for r in QUERIES["embedding_lsh_dedup_portable"](spark, sf_dir).collect()
    ]
    nodes = {
        r["vid"]
        for r in QUERIES["semantic_dedup_portable"](spark, sf_dir)
        .select("vid")
        .collect()
    }  # searchable vids: same guard as the clusters query's node seed
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compressed find gives the ROOT; roots are min-ids because unions
    # always parent the larger root under the smaller
    hist = {}
    for n in nodes:
        hist[find(n)] = hist.get(find(n), 0) + 1
    got = {
        r["cluster_id"]: r["cluster_size"]
        for r in QUERIES["embedding_dedup_clusters"](spark, sf_dir).collect()
    }
    assert got == hist
    assert pairs  # non-vacuous: the corpus has real LSH near-dup pairs


def test_dedup_clusters_drop_unsearchable_vectors(spark, tmp_path_factory):
    """Regression pin (r10 self-review finding): the node seed must be the
    SEARCHABLE set — an unsearchable vector (zero norm / NULL element)
    never enters the LSH pipeline, so it must not surface as a singleton
    cluster either (the oracle's guarded `v` seed never emits it)."""
    d = tmp_path_factory.mktemp("r10cl") / "db"
    d.mkdir()
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)], 1) for i in range(6)]
    rows.append((97, [0.0] * 64, 1))  # zero vector: unsearchable
    rows.append((98, [1.0] * 63 + [None], 1))  # NULL element: unsearchable
    rows.append((None, [1.0] * 64, 1))  # NULL id: dropped by the loader
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    clusters = {
        r["cluster_id"]: r["cluster_size"]
        for r in QUERIES["embedding_dedup_clusters"](spark, str(d)).collect()
    }
    assert 97 not in clusters and 98 not in clusters
    assert sum(clusters.values()) == 6  # exactly the searchable vectors
