"""Closure cycle-safety/polyhierarchy tests + ANN recall invariants +
clustering invariants (rows-only operators get their guarantees here)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_closure_polyhierarchy_and_depth(spark):
    from pdf_brain_spark.operators.taxonomy import transitive_ancestors

    # diamond + chain: d -> b -> a, d -> c -> a (polyhierarchy), e -> d
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("d", "b"), ("d", "c"), ("e", "d")],
        "node string, parent string",
    )
    seeds = edges.filter(F.col("node") == "e")
    res = transitive_ancestors(seeds, edges)
    anc = {(r["ancestor"], r["depth"]) for r in res.collect()}
    assert ("d", 1) in anc
    assert ("b", 2) in anc and ("c", 2) in anc
    # 'a' reachable via two paths at depth 3 — deduped, present once
    assert ("a", 3) in anc
    assert res.filter((F.col("ancestor") == "a") & (F.col("depth") == 3)).count() == 1


def test_closure_cycle_terminates(spark):
    from pdf_brain_spark.operators.taxonomy import transitive_ancestors

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "node string, parent string"
    )
    res = transitive_ancestors(edges, edges, max_iterations=20)
    # terminates and each (node, ancestor) appears once
    assert res.count() == res.select("node", "ancestor").distinct().count()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _exact_topk_ids(spark, emb, qvec, k):
    from pdf_brain_spark.operators.vector_search import topk

    return {r["vec_id"] for r in topk(emb, qvec, k=k).collect()}


def test_ivf_recall(spark, emb):
    from pdf_brain_spark.operators.ann import ivf_index, ivf_search

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    exact = _exact_topk_ids(spark, emb, qvec, 10)
    indexed, centroids = ivf_index(emb, n_lists=8, seed=42)
    approx = {r["vec_id"] for r in ivf_search(indexed, centroids, qvec, k=10, n_probes=4).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"


def test_lsh_recall(spark, emb):
    from pdf_brain_spark.operators.ann import lsh_search, lsh_sketch

    dim = len(emb.first()["embedding"])
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    exact = _exact_topk_ids(spark, emb, qvec, 10)
    sketched = lsh_sketch(emb, dim, n_planes=12, seed=7).cache()
    approx = {
        r["vec_id"]
        for r in lsh_search(sketched, dim, qvec, k=10, n_planes=12, seed=7, max_hamming=3).collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"LSH recall@10 too low: {recall}"


def test_kmeans_wssse_decreases_with_k(spark, emb):
    from pdf_brain_spark.operators.clustering import kmeans_assign, kmeans_rss

    a2, _ = kmeans_assign(emb, k=2, seed=42)
    a8, _ = kmeans_assign(emb, k=8, seed=42)
    assert kmeans_rss(a8) < kmeans_rss(a2)


def test_soft_probabilities_sum_to_one(spark, emb):
    from pdf_brain_spark.operators.clustering import kmeans_assign, soft_assignments

    _, centroids = kmeans_assign(emb.limit(100), k=4, seed=42)
    probs = soft_assignments(emb.limit(100), centroids, min_probability=0.0)
    sums = probs.groupBy("vec_id").agg(F.sum("probability").alias("s")).collect()
    for r in sums:
        assert r["s"] == pytest.approx(1.0, abs=1e-4)


def test_bic_selects_reasonable_k(spark, emb):
    from pdf_brain_spark.operators.clustering import bic_select_k

    small = emb.limit(200).cache()
    best, scores = bic_select_k(small, range(2, 7, 2), seed=42)
    assert best in scores and len(scores) == 3


def test_ivf_batch_recall_and_exactness(spark):
    """Batched IVF: probing ALL lists must equal the exhaustive batch
    exactly; probing 4/16 keeps high recall with exact distances."""
    import random

    from pdf_brain_spark.operators.ann import ivf_index, ivf_search_topk_batch
    from pdf_brain_spark.operators.vector_search import similarity_join_topk

    rng = random.Random(3)
    dim = 16
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(400)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>").repartition(4)
    queries = spark.createDataFrame(
        vecs[:8], "query_id long, query_vec array<double>"
    )
    indexed, centroids = ivf_index(emb, n_lists=8, seed=1)

    exact = {
        (r.query_id, r.rank): (r.vec_id, r.distance)
        for r in similarity_join_topk(queries, emb, k=5).collect()
    }
    full_probe = {
        (r.query_id, r.rank): r.vec_id
        for r in ivf_search_topk_batch(
            indexed, centroids, queries, k=5, n_probes=8
        ).collect()
    }
    assert full_probe == {key: vid for key, (vid, _) in exact.items()}

    part = ivf_search_topk_batch(indexed, centroids, queries, k=5, n_probes=3).collect()
    exact_pairs = {(q, vid) for (q, _), (vid, _) in exact.items()}
    got = {(r.query_id, r.vec_id) for r in part}
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.7, recall


def test_ivf_recall_on_clustered_geometry(spark):
    """Recall/probe behavior on the geometry real corpora have: a
    mixture-of-Gaussians corpus probes FAR better than uniform-random
    (the adversarial case) — ≥0.95 recall@10 probing only 4/16 lists.
    Measured, not assumed: this is the evaluation 100 TB planning needs."""
    from pyspark.sql import functions as F

    from pdf_brain_spark.operators.ann import (
        ivf_index,
        ivf_search_topk_batch,
        synthetic_clustered_embeddings,
    )
    from pdf_brain_spark.operators.vector_search import similarity_join_topk

    emb = synthetic_clustered_embeddings(spark, n=2048, dim=32, n_centers=16).localCheckpoint(
        eager=True
    )
    queries = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    indexed, centroids = ivf_index(emb, n_lists=16, seed=42)
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_search_topk_batch(indexed, centroids, queries, k=10, n_probes=4)
        .select("query_id", "vec_id")
        .collect()
    }
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity_join_topk(queries, emb, k=10).select("query_id", "vec_id").collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, f"clustered-geometry recall {recall:.3f} < 0.95 at 4/16 probes"


def test_clustering_invariants_seeded_fixture(spark):
    """The clustering_model_report invariants, asserted where the driver
    gate can't reach (rows-only entry): cluster sizes sum to n, WSSSE is
    non-increasing in k, and BIC's chosen k is stable across seeds on a
    separable fixture."""
    from pdf_brain_spark.operators.ann import synthetic_clustered_embeddings
    from pdf_brain_spark.operators.clustering import bic_select_k, kmeans_assign

    emb = synthetic_clustered_embeddings(spark, n=1024, dim=16, n_centers=5, seed=3).cache()
    n = emb.count()

    assigned, _ = kmeans_assign(emb, k=5, seed=42)
    sizes = {r["cluster_id"]: r["n"] for r in assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(sizes.values()) == n

    rss: dict = {}
    best_a, _ = bic_select_k(emb, range(2, 9, 3), seed=42, rss_out=rss)
    ks = sorted(rss)
    for a, b in zip(ks, ks[1:]):
        assert rss[a] >= rss[b] - 1e-9, f"WSSSE increased from k={a} to k={b}"

    best_b, _ = bic_select_k(emb, range(2, 9, 3), seed=7)
    assert best_a == best_b, f"chosen_k unstable across seeds: {best_a} vs {best_b}"
    emb.unpersist()


def test_model_invariant_checker_rejects_poisoned_inputs():
    """check_model_invariants is the fail-fast core of the rows-only gate
    row: every violated invariant must raise, valid inputs must not."""
    import pytest

    from pdf_brain_spark.operators.clustering import check_model_invariants

    ok = dict(
        n_points=10,
        rss_by_k={2: 8.0, 5: 4.0, 8: 2.0},
        chosen_k=5,
        member_counts=[4, 6],
        mean_probabilities=[0.8, 0.9, None],
    )
    check_model_invariants(**ok)  # sanity: valid model passes

    with pytest.raises(AssertionError, match="non-increasing"):
        check_model_invariants(**{**ok, "rss_by_k": {2: 4.0, 5: 9.0, 8: 2.0}})
    with pytest.raises(AssertionError, match="no recorded WSSSE"):
        check_model_invariants(**{**ok, "chosen_k": 3})
    with pytest.raises(AssertionError, match="negative WSSSE"):
        check_model_invariants(**{**ok, "rss_by_k": {2: 8.0, 5: -1.0}, "chosen_k": 5})
    with pytest.raises(AssertionError, match="sum to n_points"):
        check_model_invariants(**{**ok, "member_counts": [4, 5]})
    with pytest.raises(AssertionError, match="probabilities outside"):
        check_model_invariants(**{**ok, "mean_probabilities": [0.8, 1.7]})


def test_clustering_report_query_fails_on_poisoned_wssse(spark, monkeypatch):
    """Poisoned-fixture proof (VERDICT r3 item 5): when the model's WSSSE
    ordering is violated, the stochastic float lifecycle
    (clustering_model_report_float — the registered gate is now the
    oracled exact-integer lifecycle) RAISES — a broken model can never
    produce plausible-but-wrong rows."""
    import pytest

    import pdf_brain_spark.operators.clustering as cl
    from pdf_brain_spark.gates.composites import clustering_model_report_float

    orig = cl.bic_select_k

    def poisoned(emb, k_range, seed=42, vec_col="embedding", max_iter=10, rss_out=None):
        best, scores = orig(
            emb, k_range, seed=seed, vec_col=vec_col, max_iter=max_iter, rss_out=rss_out
        )
        if rss_out is not None and rss_out:
            ks = sorted(rss_out)
            # violate monotonicity: largest k suddenly fits worst
            rss_out[ks[-1]] = rss_out[ks[0]] * 10.0 + 1.0
        return best, scores

    monkeypatch.setattr(cl, "bic_select_k", poisoned)
    with pytest.raises(AssertionError, match="non-increasing"):
        clustering_model_report_float(spark, SF_DIR).collect()


def test_power_iteration_tracks_numpy_eigenvector(spark):
    """Second opinion for the exact-integer PCA: the integer power
    iteration's direction must align with numpy's dominant eigenvector
    of the SAME quantized Gram matrix (|cosine| > 0.99 after two
    iterations on a spectrally-separated synthetic corpus), and the
    distributed Gram must equal the single-machine Gram exactly."""
    import numpy as np

    from pdf_brain_spark.operators.pca import (
        PCA_COMPONENT_SCALE,
        _round_half_away,
        gram_matrix_int,
        power_iteration_exact,
    )

    rng = np.random.default_rng(7)
    dim = 8
    # strong rank-1 signal + small noise → well-separated top eigenpair
    direction = rng.standard_normal(dim)
    direction /= np.linalg.norm(direction)
    coeffs = rng.standard_normal((200, 1)) * 5.0
    x = coeffs * direction + rng.standard_normal((200, dim)) * 0.3
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    gram = gram_matrix_int(df, dim=dim)
    got = {(r["i"], r["j"]): r["c"] for r in gram.collect()}
    q = _round_half_away(
        np.vstack(df.toPandas()["embedding"].to_list()).astype(np.float64)
        * PCA_COMPONENT_SCALE
    )
    want = q.T @ q
    for i in range(dim):
        for j in range(dim):
            assert got[(i, j)] == want[i, j], (i, j)

    v = power_iteration_exact(spark, gram, dim=dim, n_iter=2)
    vec = np.array(
        [r["loading_micro"] for r in v.orderBy("dim_idx").collect()], dtype=np.float64
    )
    evals, evecs = np.linalg.eigh(want.astype(np.float64))
    top = evecs[:, int(np.argmax(evals))]
    cos = abs(vec @ top) / (np.linalg.norm(vec) * np.linalg.norm(top))
    assert cos > 0.99, cos


def test_deflated_power_iteration_tracks_second_eigenvector(spark):
    """Second opinion for the deflated top-2 PCA: on a synthetic corpus
    with TWO well-separated planted directions, pc1 aligns with numpy's
    top eigenvector and pc2 with the second (|cos| > 0.98 each), and
    the two integer loadings are near-orthogonal."""
    import numpy as np

    from pdf_brain_spark.operators.pca import (
        gram_matrix_int,
        power_iteration_deflated,
    )

    rng = np.random.default_rng(11)
    dim = 8
    d1 = rng.standard_normal(dim); d1 /= np.linalg.norm(d1)
    d2 = rng.standard_normal(dim); d2 -= (d2 @ d1) * d1; d2 /= np.linalg.norm(d2)
    x = (
        rng.standard_normal((300, 1)) * 8.0 * d1
        + rng.standard_normal((300, 1)) * 3.0 * d2
        + rng.standard_normal((300, dim)) * 0.2
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    out = (
        power_iteration_deflated(spark, gram_matrix_int(df, dim=dim), dim=dim, n_iter=3)
        .orderBy("dim_idx")
        .collect()
    )
    v1 = np.array([r["pc1_micro"] for r in out], dtype=np.float64)
    v2 = np.array([r["pc2_micro"] for r in out], dtype=np.float64)
    cov = x.T @ x
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    t1, t2 = evecs[:, order[0]], evecs[:, order[1]]
    c1 = abs(v1 @ t1) / (np.linalg.norm(v1) * np.linalg.norm(t1))
    c2 = abs(v2 @ t2) / (np.linalg.norm(v2) * np.linalg.norm(t2))
    ortho = abs(v1 @ v2) / (np.linalg.norm(v1) * np.linalg.norm(v2))
    assert c1 > 0.98, c1
    assert c2 > 0.98, c2
    assert ortho < 0.1, ortho


def test_ivf_batch_exact_ties_across_batches(spark, exact_tie_corpus, small_arrow_batches):
    """Tied copies of every vector in 37-row Arrow batches: probing
    every list returns exactly the exhaustive
    `similarity_join` rows, and probing 3 of 8 lists returns exactly a
    driver-local (distance, vec_id) top-k over each query's probed
    lists — computed with the kernel's own probe arithmetic."""
    import numpy as np

    from pdf_brain_spark.operators.ann import ivf_index, ivf_search_topk_batch
    from pdf_brain_spark.operators.vector_search import similarity_join

    vdf, qdf = exact_tie_corpus
    indexed, centroids = ivf_index(vdf, n_lists=8, seed=1)
    # keep the copies adjacent in descending id order (see tied_copies)
    indexed = indexed.orderBy(F.col("vec_id") % 1000, F.col("vec_id").desc())
    indexed = indexed.localCheckpoint(eager=True)
    key = lambda r: (r.query_id, r.rank, r.vec_id, r.distance)
    exact = sorted(map(key, similarity_join(qdf, vdf, k=5).collect()))
    full = ivf_search_topk_batch(indexed, centroids, qdf, k=5, n_probes=8).collect()
    assert sorted(map(key, full)) == exact

    rows = indexed.select("vec_id", "embedding", "list_id").collect()
    vids = np.array([r.vec_id for r in rows])
    lists = np.array([r.list_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    q_rows = qdf.collect()
    Q = np.array([r.query_vec for r in q_rows], dtype=np.float64)
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    C = np.asarray(centroids, dtype=np.float64)
    C = C / (np.linalg.norm(C, axis=1, keepdims=True) + 1e-12)
    probes = np.argsort(-(Q @ C.T), axis=1)[:, :3]
    want = set()
    for qi, qr in enumerate(q_rows):
        cand = np.flatnonzero(np.isin(lists, probes[qi]))
        dist = 1.0 - V[cand] @ Q[qi]
        order = np.lexsort((vids[cand], dist))[:5]
        want |= {(qr.query_id, rank, int(vids[cand][i]), float(dist[i]))
                 for rank, i in enumerate(order, start=1)}
    got = ivf_search_topk_batch(indexed, centroids, qdf, k=5, n_probes=3).collect()
    assert set(map(key, got)) == want and len(got) == len(want)
