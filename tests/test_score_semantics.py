"""Known-answer tests for the reference's scoring formulas — the
"small formulas, easy to get subtly wrong" set (SURVEY §7 risks):
score = 1 - d/2, threshold pushdown d ≤ 2(1-t), hybrid boost min(1, 1.2s).
"""

import pytest
from pyspark.sql import functions as F

from pdf_brain_spark.functions.vector import (
    cosine_distance,
    distance_to_score,
    score_threshold_to_distance,
)


def test_threshold_pushdown_constant():
    assert score_threshold_to_distance(1.0) == 0.0
    assert score_threshold_to_distance(0.5) == 1.0
    assert score_threshold_to_distance(0.0) == 2.0


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [
            ("same", [1.0, 0.0], [1.0, 0.0]),
            ("orth", [1.0, 0.0], [0.0, 1.0]),
            ("anti", [1.0, 0.0], [-1.0, 0.0]),
        ],
        "name string, a array<float>, b array<float>",
    )


def test_score_mapping_known_answers(spark, vec_df):
    rows = {
        r["name"]: r
        for r in vec_df.select(
            "name",
            cosine_distance("a", "b").alias("d"),
        )
        .select("name", "d", distance_to_score("d").alias("s"))
        .collect()
    }
    assert rows["same"]["d"] == pytest.approx(0.0)
    assert rows["same"]["s"] == pytest.approx(1.0)
    assert rows["orth"]["d"] == pytest.approx(1.0)
    assert rows["orth"]["s"] == pytest.approx(0.5)
    assert rows["anti"]["d"] == pytest.approx(2.0)
    assert rows["anti"]["s"] == pytest.approx(0.0)


def test_hybrid_boost_semantics(spark):
    from pdf_brain_spark.operators.hybrid import hybrid_merge

    vec = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (3, 0.95)], "doc_id int, vec_score double"
    )
    fts = spark.createDataFrame([(2, 0.4), (3, 0.6), (4, 0.3)], "doc_id int, fts_score double")
    out = {r["doc_id"]: r for r in hybrid_merge(vec, fts, ["doc_id"], limit=10).collect()}
    # vector-only keeps its score
    assert out[1]["score"] == pytest.approx(0.9) and out[1]["match_type"] == "vector"
    # in both: boosted vector score min(1, 0.5*1.2)
    assert out[2]["score"] == pytest.approx(0.6) and out[2]["match_type"] == "hybrid"
    # boost caps at 1.0: 0.95*1.2 = 1.14 → 1.0
    assert out[3]["score"] == pytest.approx(1.0)
    # fts-only keeps fts score
    assert out[4]["score"] == pytest.approx(0.3) and out[4]["match_type"] == "fts"


def test_embedding_validation_gate(spark):
    from pdf_brain_spark.functions.vector import is_valid_embedding

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [1.0]),
            (3, [float("nan"), 1.0]),
            (4, [float("inf"), 1.0]),
        ],
        "id int, emb array<float>",
    )
    ok = [r["id"] for r in df.filter(is_valid_embedding("emb", 2)).collect()]
    assert ok == [1]


def test_similarity_join_topk_matches_exhaustive(spark):
    """The vectorized (numpy-matmul, map-side partial top-k) batch path
    must agree with the exhaustive expression plan on ids, ranks, and
    distances (to 1e-9)."""
    import random

    from pdf_brain_spark.operators.vector_search import (
        similarity_join,
        similarity_join_topk,
    )

    rng = random.Random(7)
    dim = 16
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(300)]
    queries = [(q, [rng.uniform(-1, 1) for _ in range(dim)]) for q in range(12)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>").repartition(5)
    qdf = spark.createDataFrame(queries, "query_id long, query_vec array<double>")

    exact = {
        (r.query_id, r.rank): (r.vec_id, r.distance)
        for r in similarity_join(qdf, vdf, k=7).collect()
    }
    fast = {
        (r.query_id, r.rank): (r.vec_id, r.distance)
        for r in similarity_join_topk(qdf, vdf, k=7).collect()
    }
    assert set(exact) == set(fast)
    for key, (vid, dist) in exact.items():
        fvid, fdist = fast[key]
        assert fvid == vid, key
        assert abs(fdist - dist) < 1e-9, key


def test_phrase_bm25_adjacency(spark):
    """Quoted-phrase MATCH parity (LibSQLDatabase.ts:408): adjacency is
    what separates phrase scoring from bag-of-words — a doc with both
    words NON-adjacent must not match; overlapping starts each count
    (FTS5 position semantics)."""
    from pdf_brain_spark.operators.fts import phrase_bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # phrase "alpha beta" once
            (2, "beta alpha x alpha beta"),   # once, later in doc
            (3, "alpha gamma beta"),          # both words, NOT adjacent
            (4, "alpha alpha alpha"),         # overlapping "alpha alpha": 2 starts
            (5, "unrelated text entirely"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in phrase_bm25_scores(docs, "alpha beta", k=10).collect()}
    assert set(out) == {1, 2}
    assert out[1]["phrase_hits"] == 1 and out[2]["phrase_hits"] == 1
    # doc 1 is shorter -> higher BM25 at equal tf
    assert out[1]["bm25"] > out[2]["bm25"]

    over = {r["doc_id"]: r for r in phrase_bm25_scores(docs, "alpha alpha", k=10).collect()}
    assert set(over) == {4}
    assert over[4]["phrase_hits"] == 2

    # phrase longer than every doc -> empty, no crash (sequence guard)
    none = phrase_bm25_scores(docs, "a b c d e f g h i j", k=10).collect()
    assert none == []


def test_phrase_bm25_single_term_equals_bag(spark):
    """A one-word phrase degenerates to single-term BM25 — same scores as
    bm25_scores on that term."""
    from pdf_brain_spark.operators.fts import bm25_scores, phrase_bm25_scores

    docs = spark.createDataFrame(
        [(1, "x y x z"), (2, "y z y"), (3, "x x x x")],
        "doc_id int, text string",
    )
    ph = {r["doc_id"]: r["bm25"] for r in phrase_bm25_scores(docs, "x", k=10).collect()}
    bag = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, ["x"], k=10).collect()}
    assert set(ph) == set(bag)
    for d in ph:
        assert ph[d] == pytest.approx(bag[d])


# --------------------------------------------------------------------------
# MMR diversified re-ranking
# --------------------------------------------------------------------------


def test_mmr_demotes_near_duplicate(spark):
    """Two near-identical vectors closest to the query, plus an equally
    relevant vector on the OTHER side of the query direction: raw
    similarity ranks the twins 1-2; MMR (λ=0.5) must demote the second
    twin (penalty sim ≈ 1 against the chosen first twin) below the
    diverse vector (penalty sim ≈ 0.8). Note the query must NOT coincide
    with the top result — if it does, every candidate's rel equals its
    sim-to-chosen and step 2 of the greedy is degenerate."""
    import numpy as np

    from pdf_brain_spark.operators.vector_search import mmr_rerank, topk

    rng = np.random.default_rng(7)
    q = np.array([1.0, 0.0, 0.0, 0.0])
    a = np.array([0.9, 0.436, 0.0, 0.0])        # best match (cos 0.9)
    a2 = np.array([0.9, 0.436, 0.02, 0.0])      # its near-duplicate
    b = np.array([0.895, -0.446, 0.0, 0.0])     # as relevant, diverse side
    # fillers orthogonal to q (cosine is scale-free, so "small" vectors
    # are NOT low-relevance — direction is everything): rel = 0.5 exactly
    rows = [(0, a), (1, a2), (2, b)] + [
        (10 + i, np.concatenate([[0.0, 0.0], rng.normal(size=2)])) for i in range(5)
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    raw = [r["vec_id"] for r in topk(emb, [float(x) for x in q], k=3).collect()]
    assert raw[:2] in ([0, 1], [1, 0]), "raw order must rank the twins 1-2"
    mmr = mmr_rerank(emb, [float(x) for x in q], k=3, n_candidates=8, lam=0.5)
    got = [r["vec_id"] for r in mmr.collect()]
    assert got[0] in (0, 1)
    assert got[1] == 2, f"MMR must promote the diverse vector: {got}"


def test_mmr_invariants(spark):
    """rank is 1..k with distinct ids; rank 1 is the raw-relevance argmax;
    every mmr_score <= λ·rel (the penalty only subtracts); λ=1 degenerates
    to raw similarity order."""
    from pyspark.sql import functions as F

    from pdf_brain_spark.operators.vector_search import mmr_rerank, topk
    from pdf_brain_spark.sources.loaders import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    out = mmr_rerank(emb, qvec, k=8, n_candidates=20, lam=0.7).collect()
    assert [r["rank"] for r in out] == list(range(1, 9))
    assert len({r["vec_id"] for r in out}) == 8
    top1 = topk(emb, qvec, k=1).collect()[0]["vec_id"]
    assert out[0]["vec_id"] == top1
    for r in out:
        assert r["mmr_score"] <= 0.7 * r["rel"] + 1e-9
    degenerate = mmr_rerank(emb, qvec, k=8, n_candidates=20, lam=1.0).collect()
    raw = [r["vec_id"] for r in topk(emb, qvec, k=8).collect()]
    assert [r["vec_id"] for r in degenerate] == raw


def test_mmr_rerank_batch_of_one_matches_single(spark):
    """The batched MMR path (BLAS candidate fetch + broadcast vector
    re-attach + per-group greedy) must reproduce the single-query
    operator exactly for a batch of one — same picks, same exact-integer
    mmr_score doubles."""
    from pdf_brain_spark.operators.vector_search import mmr_rerank, mmr_rerank_batch
    from pdf_brain_spark.sources.loaders import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    single = [
        (r["rank"], r["vec_id"], r["rel"], r["mmr_score"])
        for r in mmr_rerank(emb, qvec, k=10, n_candidates=30, lam=0.7).collect()
    ]
    queries = spark.createDataFrame([(7, qvec)], "query_id long, query_vec array<double>")
    batch = [
        (r["rank"], r["vec_id"], r["rel"], r["mmr_score"])
        for r in mmr_rerank_batch(emb, queries, k=10, n_candidates=30, lam=0.7).collect()
    ]
    assert single == batch and len(single) == 10
    # diversity contract on a real batch: per query, k distinct picks,
    # rank-1 is the top-rel candidate, ranks are 1..k
    out = mmr_rerank_batch(
        emb, emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ), k=5, n_candidates=20, lam=0.7,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(8))
    for qid, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        assert len({r["vec_id"] for r in rows}) == 5
        top = max(rows, key=lambda r: (r["rel"], -r["vec_id"]))
        assert next(r for r in rows if r["rank"] == 1)["rel"] == top["rel"]


def test_hard_negatives_excludes_near_duplicates(spark):
    """Planted geometry: a near-duplicate of the anchor (score >= thr)
    must NOT be mined as a negative; the hardest legitimate negative
    ranks first; the anchor never mines itself."""
    import numpy as np

    from pdf_brain_spark.operators.vector_search import hard_negatives

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    base /= np.linalg.norm(base)
    near = base + 0.01 * rng.standard_normal(16)      # ~duplicate, score ~1
    hardish = base + 0.8 * rng.standard_normal(16)    # similar, below thr
    far = -base                                        # opposite, score ~0
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in near]),
        (2, [float(x) for x in hardish]),
        (3, [float(x) for x in far]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("anchor_vec")
    )
    got = hard_negatives(vecs, anchors, k=3, dup_threshold=0.95).collect()
    ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert 0 not in ids       # no self-pair
    assert 1 not in ids       # near-dup excluded
    assert ids[0] == 2        # hardest legitimate negative first
    assert all(r["score"] < 0.95 for r in got)

def test_similarity_join_topk_keep_vec_identity(spark):
    """keep_vec=True (r13, the one-pass mmr fetch) must change NOTHING
    about the ranking result — same (id, rank, distance, score) per
    query — and the carried vector must be the corpus row's own
    embedding, element for element."""
    import random

    from pdf_brain_spark.operators.vector_search import similarity_join_topk

    rng = random.Random(13)
    dim = 8
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(200)]
    queries = [(q, [rng.uniform(-1, 1) for _ in range(dim)]) for q in range(9)]
    vdf = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    ).repartition(4)
    qdf = spark.createDataFrame(queries, "query_id long, query_vec array<double>")
    base = {
        (r.query_id, r.rank): (r.vec_id, r.distance, r.score)
        for r in similarity_join_topk(qdf, vdf, k=6).collect()
    }
    kept = similarity_join_topk(qdf, vdf, k=6, keep_vec=True).collect()
    assert {
        (r.query_id, r.rank): (r.vec_id, r.distance, r.score) for r in kept
    } == base
    by_id = dict(vecs)
    for r in kept:
        assert list(r.embedding) == by_id[r.vec_id], r.vec_id


def test_similarity_join_topk_exact_ties_across_batches(
    spark, exact_tie_corpus, small_arrow_batches
):
    """Every vector under six ids, 17 distinct distances and 37-row
    Arrow batches: batches cut inside groups of exactly tied copies, and
    the groups straddle batch boundaries. The partial top-k and its
    merge window use the exhaustive plan's (distance, vec_id) order, so
    the rows are IDENTICAL to `similarity_join`, distances included
    (they are exact here), with and without the carried vector."""
    from pdf_brain_spark.operators.vector_search import (
        similarity_join,
        similarity_join_topk,
    )

    vdf, qdf = exact_tie_corpus
    key = lambda r: (r.query_id, r.rank, r.vec_id, r.distance, r.score)
    exact = sorted(map(key, similarity_join(qdf, vdf, k=5).collect()))
    assert len(exact) == 50
    assert sorted(map(key, similarity_join_topk(qdf, vdf, k=5).collect())) == exact
    kept = similarity_join_topk(qdf, vdf, k=5, keep_vec=True).collect()
    assert sorted(map(key, kept)) == exact
    assert len({tuple(r.embedding) for r in kept}) < len(kept)  # tied copies were served


def test_mmr_rerank_batch_exact_ties_across_batches(
    spark, exact_tie_corpus, small_arrow_batches
):
    """The batched MMR candidate fetch cuts inside and across groups of
    tied copies; every query's picks still equal the
    single-query operator's."""
    from pdf_brain_spark.operators.vector_search import mmr_rerank, mmr_rerank_batch

    vdf, qdf = exact_tie_corpus
    batch = {}
    for r in mmr_rerank_batch(vdf, qdf, k=4, n_candidates=10, lam=0.7).collect():
        batch.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.rel, r.mmr_score))
    for q in qdf.collect():
        single = [
            (r.rank, r.vec_id, r.rel, r.mmr_score)
            for r in mmr_rerank(vdf, list(q.query_vec), k=4, n_candidates=10, lam=0.7).collect()
        ]
        assert sorted(batch[q.query_id]) == single, q.query_id
