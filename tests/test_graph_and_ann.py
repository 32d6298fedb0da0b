"""Closure cycle-safety/polyhierarchy tests + ANN recall invariants +
clustering invariants."""

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


def test_closure_past_the_cap_raises_instead_of_truncating(spark):
    """A 70-node chain is 69 levels deep: past the default cap it raises
    rather than return 51 rows; with max_iterations=100 its closure equals
    DuckDB's WITH RECURSIVE. A 3-cycle walked with acyclic=True never
    reaches a fixpoint, so it raises too."""
    import duckdb

    from pdf_brain_spark.operators.taxonomy import transitive_ancestors

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(69)], "node string, parent string"
    )
    seeds = edges.filter(F.col("node") == "n0")
    with pytest.raises(ValueError, match="did not reach its fixpoint"):
        transitive_ancestors(seeds, edges, acyclic=True)

    got = sorted(
        tuple(r) for r in transitive_ancestors(seeds, edges, max_iterations=100).collect()
    )
    con = duckdb.connect()
    con.register("edges", edges.toPandas())
    want = sorted(
        con.sql(
            """
            WITH RECURSIVE anc(node, ancestor, depth) AS (
              SELECT node, parent, 1 FROM edges WHERE node = 'n0'
              UNION
              SELECT a.node, e.parent, a.depth + 1
              FROM anc a JOIN edges e ON a.ancestor = e.node
            )
            SELECT node, ancestor, depth FROM anc
            """
        ).fetchall()
    )
    assert got == want and len(got) == 69

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "node string, parent string"
    )
    with pytest.raises(ValueError, match="did not reach its fixpoint"):
        transitive_ancestors(
            cycle.filter(F.col("node") == "a"), cycle, max_iterations=10, acyclic=True
        )


def _random_forest(depth, seed, n=60):
    """(node, parent) edges of a seeded random forest whose deepest
    root-to-leaf path has exactly `depth` edges: node levels 0..depth, each
    level non-empty, every node's parent a random node one level up."""
    import random

    rng = random.Random(seed)
    level = {i: i for i in range(depth + 1)}  # one full-depth chain
    level.update({i: rng.randint(0, depth) for i in range(depth + 1, n)})
    by_level = {lv: [i for i in level if level[i] == lv] for lv in range(depth + 1)}
    return [(i, rng.choice(by_level[lv - 1])) for i, lv in level.items() if lv > 0]


CLOSURE_SQL = {
    "up": """
        WITH RECURSIVE c(node, other, depth) AS (
          SELECT node, parent, 1 FROM seeds
          UNION ALL
          SELECT c.node, e.parent, c.depth + 1 FROM c JOIN edges e ON e.node = c.other
        ) SELECT node, other, depth FROM c""",
    "down": """
        WITH RECURSIVE c(node, other, depth) AS (
          SELECT parent, node, 1 FROM seeds
          UNION ALL
          SELECT c.node, e.node, c.depth + 1 FROM c JOIN edges e ON e.parent = c.other
        ) SELECT node, other, depth FROM c""",
}


@pytest.mark.parametrize("depth", [3, 4, 5, 7, 8, 9])
def test_doubling_closure_matches_recursive_cte(spark, depth):
    """Path doubling (acyclic=True) returns DuckDB's WITH RECURSIVE rows,
    each path once, in both directions, on random forests whose depth is
    2^k − 1, 2^k or 2^k + 1 (where the number of doubling rounds steps),
    for all edges, a strict seed subset, and no seeds at all."""
    import duckdb

    from pdf_brain_spark.operators.taxonomy import descendants, transitive_ancestors

    forest = _random_forest(depth, seed=depth)
    edges = spark.createDataFrame(forest, "node long, parent long")
    con = duckdb.connect()
    con.register("edges", edges.toPandas())
    for seed_filter in ["true", "node % 3 = 0", "false"]:
        seeds = edges.where(seed_filter)
        con.register("seeds", seeds.toPandas())
        for direction, closure in [("up", transitive_ancestors), ("down", descendants)]:
            got = sorted(tuple(r) for r in closure(seeds, edges, acyclic=True).collect())
            want = sorted(con.sql(CLOSURE_SQL[direction]).fetchall())
            assert got == want, (direction, seed_filter)
            if seed_filter == "false":
                assert got == []
            elif seed_filter == "true" and direction == "up":
                assert max(d for _, _, d in got) == depth


@pytest.mark.parametrize("max_iterations,acyclic", [(6, True), (50, True), (6, False)])
def test_closure_cap_boundary(spark, max_iterations, acyclic):
    """A chain exactly max_iterations + 1 levels deep returns all its rows;
    one level deeper raises."""
    from pdf_brain_spark.operators.taxonomy import transitive_ancestors

    def chain(levels):
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(levels)], "node long, parent long"
        )
        return transitive_ancestors(
            edges.where("node = 0"), edges, max_iterations=max_iterations, acyclic=acyclic
        )

    cap = max_iterations + 1
    assert sorted(tuple(r) for r in chain(cap).collect()) == [
        (0, d, d) for d in range(1, cap + 1)
    ]
    with pytest.raises(ValueError, match="did not reach its fixpoint"):
        chain(cap + 1).collect()


def test_transitive_closure_build_jobs(spark, jobs_fired):
    """Building the transitive_closure gate at sf0.001 fires at most 20
    Spark jobs (61 with the one-level-per-round frontier loop): a doubling
    round is one broadcast and one checkpoint job, with its stop test
    observed on the checkpoint's own job."""
    from pdf_brain_spark.gates.core import transitive_closure

    df, jobs = jobs_fired(lambda: transitive_closure(spark, SF_DIR))
    assert jobs <= 20
    assert df.count() > 0


def test_transitive_closure_leaves_no_persistent_rdd(spark):
    """Every RDD the transitive_closure gate persists (its per-level
    local checkpoints) is released once its result is: the closure holds
    no cache() that would outlive the run."""
    import gc
    import time

    from pdf_brain_spark.gates.core import transitive_closure

    sc = spark.sparkContext

    def persistent():
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = persistent()
    assert transitive_closure(spark, SF_DIR).collect()
    deadline = time.time() + 60
    while persistent() - before and time.time() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert persistent() - before == set()


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


def test_kmeans_wssse_decreases_with_k(spark, emb):
    from pdf_brain_spark.operators.clustering import kmeans_assign

    def wssse(k):
        assigned, _ = kmeans_assign(emb, k=k, seed=42)
        return assigned.agg(F.sum(F.col("distance") ** 2)).first()[0]

    assert wssse(8) < wssse(2)


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
    """The clustering_model_report invariants: hard assignment is lossless
    (cluster sizes sum to n) for kmeans_assign on a separable seeded
    fixture and for the registered gate, whose BIC choice is one of its
    candidate k, whose WSSSE is non-negative and whose mean soft-membership
    probabilities lie in (0, 1] (NULL: no member above the floor)."""
    from pdf_brain_spark.operators.ann import synthetic_clustered_embeddings
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.queries import lookup_query

    emb = synthetic_clustered_embeddings(spark, n=1024, dim=16, n_centers=5, seed=3)
    assigned, _ = kmeans_assign(emb, k=5, seed=42)
    sizes = assigned.groupBy("cluster_id").count().collect()
    assert sum(r["count"] for r in sizes) == 1024

    rows = lookup_query("clustering_model_report")(spark, SF_DIR).collect()
    chosen_k, n_points = rows[0]["chosen_k"], rows[0]["n_points"]
    assert chosen_k in (2, 4, 8) and 0 < len(rows) <= chosen_k
    assert sum(r["chunk_count"] for r in rows) == n_points
    assert rows[0]["rss_milli2"] >= 0
    probs = [r["mean_probability"] for r in rows]
    assert all(p is None or 0.0 < p <= 1.0 for p in probs), probs


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
