"""Clustering operators — the reference's RAPTOR-style k-means stack
(src/services/Clustering.ts) re-expressed on Spark:

  * k-means (Lloyd's + k-means++ init, Clustering.ts:233-320): kmeans_assign
    fits seeded Lloyd's on a bounded sample and assigns every vector in one
    map-only pass. The reference's mini-batch variant (Clustering.ts:411-508)
    exists only because it is single-process.
  * exact-integer k-means (kmeans_fit_exact_int, assign_stats_exact_int,
    fit_centroid_matrix over milli-quantized vectors): the fit every
    registered clustering gate runs, so BIC model selection, soft
    clustering, cluster summaries and the clustering model report
    (gates/core.py, gates/quality_temporal.py, gates/composites.py) each
    have a DuckDB twin.
  * label_centroids: per-label mean vectors, the centroid table that
    cluster→concept mapping (gates/core.py::cluster_concept_map) ranks.

Scale: the fit runs on a bounded uniform sample (KMEANS_FIT_SAMPLE_CAP,
constant driver memory — the same collect-candidates-then-local-refine
move MLlib's k-means|| init makes), so fitting cost is independent of
corpus size; centroids are always driver-small and ride into executors
as closure constants of an Arrow-batched BLAS scorer, so scoring N
vectors is a single map-only stage with zero shuffles.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _to_mllib_vectors(emb: DataFrame, vec_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return emb.withColumn("_features", array_to_vector(F.col(vec_col).cast("array<double>")))


# Fit-on-sample bound: k-means centroids are a k·dim-parameter estimate —
# a uniform sample this size pins them to within sampling noise for any
# k we serve (k ≤ 64), independent of corpus size. 131072 rows × 64 dims
# × 8 B ≈ 64 MB on the driver, a hard constant. This is the same move
# MLlib's own k-means|| init makes (collect O(k·passes) candidates to the
# driver, run local k-means++ there); we extend it to the full Lloyd's
# loop so the FIT costs O(cap·k·dim·iters) regardless of N, while the
# ASSIGNMENT stays a distributed map-only pass (broadcast-literal
# centroids folded into whole-stage codegen, zero shuffles) — at 100 TB
# that replaces 20+ full-corpus Lloyd's passes with exactly one scan.
KMEANS_FIT_SAMPLE_CAP = 131_072


def _sample_feature_matrix(emb: DataFrame, vec_col: str, seed: int):
    """Deterministic bounded sample of the embedding column as a numpy
    matrix (≤ KMEANS_FIT_SAMPLE_CAP rows; uniform seeded sample when the
    table is larger)."""
    import numpy as np

    n = emb.count()
    sel = emb.select(F.col(vec_col).cast("array<double>").alias("_v"))
    if n > KMEANS_FIT_SAMPLE_CAP:
        frac = min(1.0, KMEANS_FIT_SAMPLE_CAP * 1.1 / n)
        sel = sel.sample(False, frac, seed).limit(KMEANS_FIT_SAMPLE_CAP)
    rows = sel.collect()
    return np.asarray([r["_v"] for r in rows], dtype=np.float64)


def _lloyd_fit(X, k: int, seed: int, max_iter: int, tol: float):
    """Seeded k-means++ init + vectorized Lloyd's on a driver-local
    matrix (Clustering.ts:233-320 semantics; deterministic for a given
    seed + sample)."""
    import numpy as np

    n = X.shape[0]
    k = min(k, n)
    rng = np.random.RandomState(seed)
    # k-means++ seeding
    C = np.empty((k, X.shape[1]), dtype=np.float64)
    C[0] = X[rng.randint(n)]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:
            C[j] = X[rng.randint(n)]
        else:
            C[j] = X[rng.choice(n, p=d2 / total)]
        d2 = np.minimum(d2, ((X - C[j]) ** 2).sum(axis=1))
    # Lloyd's iterations: pairwise distances via matmul (n×k, no n×k×dim
    # temporary)
    x2 = (X ** 2).sum(axis=1)[:, None]
    for _ in range(max_iter):
        d = x2 - 2.0 * (X @ C.T) + (C ** 2).sum(axis=1)[None, :]
        a = d.argmin(axis=1)
        newC = np.vstack(
            [X[a == j].mean(axis=0) if (a == j).any() else C[j] for j in range(k)]
        )
        shift = float(np.sqrt(((newC - C) ** 2).sum(axis=1)).max())
        C = newC
        if shift < tol:
            break
    return C


def _assign_udf(centroids):
    """Arrow-batched nearest-centroid scorer: the centroid matrix rides
    into executors as a closure constant; each Arrow batch is one BLAS
    matmul (‖x‖² − 2X·Cᵀ + ‖c‖², argmin per row). A per-centroid unrolled
    native expression is NOT used deliberately: at k·dim ≥ ~500 terms the
    generated Java exceeds Janino's 64 KB method limit, and the
    compile-fail-retry path costs seconds per action — the vectorized
    Arrow batch is both smaller in the plan and faster per row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C ** 2).sum(axis=1)

    @pandas_udf("cluster_id int, distance double")
    def assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cluster_id": [], "distance": []})
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        d = (X ** 2).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
        np.maximum(d, 0.0, out=d)
        a = d.argmin(axis=1)
        return pd.DataFrame(
            {
                "cluster_id": a.astype("int32"),
                "distance": np.sqrt(d[np.arange(len(a)), a]),
            }
        )

    return assign


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 20,
    tol: float = 5e-3,
):
    """Fit KMeans and return (assignments DF with `cluster_id` and
    `distance` to own centroid, centroids list).

    Fit runs seeded Lloyd's on a bounded driver-local sample
    (KMEANS_FIT_SAMPLE_CAP — see rationale above); assignment is a
    distributed map-only pass (Arrow-batched BLAS scorer, see
    _assign_udf). No shuffle anywhere in the operator. tol=5e-3 (vs
    MLlib's 1e-4 default): on embedding-scale data the centroid drift
    past that point is noise."""
    X = _sample_feature_matrix(emb, vec_col, seed)
    if X.size == 0:
        raise ValueError("kmeans_assign: empty input")
    C = _lloyd_fit(X, k, seed, max_iter, tol)
    centroids = [c.tolist() for c in C]
    assign = _assign_udf(centroids)
    assigned = emb.withColumn("_a", assign(F.col(vec_col))).select(
        *emb.columns,
        F.col("_a.cluster_id").alias("cluster_id"),
        F.col("_a.distance").alias("distance"),
    )
    return assigned, centroids


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic per-group mean vector (label, centroid) — the
    oracle-able stand-in for k-means centroids (the reference's stored
    cluster centroid, LibSQLDatabase.ts:859-870). Uses MLlib
    Summarizer.mean: one pass with map-side partial aggregation — the
    per-dimension shuffle is bounded by groups × partitions, never rows."""
    from pyspark.ml.functions import vector_to_array
    from pyspark.ml.stat import Summarizer

    v = _to_mllib_vectors(emb, vec_col)
    return (
        v.groupBy(label_col)
        .agg(Summarizer.mean(F.col("_features")).alias("_mean"))
        .select(F.col(label_col), vector_to_array(F.col("_mean")).alias("centroid"))
    )


def quantized_d2(vec_col, const: list[int]):
    """Exact-integer squared L2 distance between a milli-quantized
    array<long> column and a CONSTANT integer vector — THE shared
    distance expression of every deterministic-quantizer gate (hoisted
    r10 review: seven gates carried private copies that had to change
    in lockstep with the quantization rule).

    Stays inside whole-stage codegen: zip_with squared diffs + an
    integer fold, no UDF. (r16 A/B: an unrolled element_at multiply-add
    chain — then the functions/vector.py known-dimension form — was tried and
    REJECTED: at k=8 consumers per row the 512-node expression tree
    more than doubled the gates that use it, kmeans_clusters 2.26 →
    5.31 s warm min; the unroll wins only for a FEW instances of
    a dim-sized chain, not k-per-row fan-outs.)"""
    col = vec_col if not isinstance(vec_col, str) else F.col(vec_col)
    return F.aggregate(
        F.zip_with(
            col,
            F.array(*[F.lit(c).cast("long") for c in const]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantize_milli(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    out_col: str = "q",
) -> DataFrame:
    """(id, q) with components rounded ONCE to integer milli-units — the
    quantization step every deterministic-quantizer gate starts from
    (matches kmeans_fit_exact_int's internal rule exactly)."""
    return vectors.select(
        id_col,
        F.transform(
            vec_col, lambda x: F.round(x.cast("double") * scale).cast("long")
        ).alias(out_col),
    )


def fit_centroid_matrix(
    spark: SparkSession,
    vectors: DataFrame,
    k: int,
    dim: int = 64,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """kmeans_fit_exact_int's output as a dense k×dim integer matrix —
    the model-grain collect + assembly every gate repeated (r10 review
    hoist). Bounded by model size, never data."""
    fit = kmeans_fit_exact_int(
        spark, vectors, k=k, dim=dim, n_iter=n_iter,
        id_col=id_col, vec_col=vec_col,
    ).collect()
    cmat = [[0] * dim for _ in range(k)]
    for r in fit:
        cmat[int(r["cluster_id"])][int(r["dim_idx"])] = int(r["coord_milli"])
    return cmat


def kmeans_fit_exact_int(
    spark: SparkSession,
    vectors: DataFrame,
    k: int = 4,
    dim: int = 64,
    n_iter: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means in EXACT INTEGERS — the FIT step
    behind a SQL oracle (VERDICT r8 item 6, completing the kmeans_assign
    play one level up). Un-oracle-able float k-means becomes exact by
    the PCA/HITS quantization discipline: components round ONCE to
    milli-units, every distance is an integer sum of squares, every
    centroid update is an integer sum with truncating division (DuckDB
    `//` and Spark `div` both truncate toward zero), and ties break on
    the lowest cluster id — so a DuckDB twin can unroll the identical
    argmin+avg rounds and hash-match the final centroids.

    Init: the quantized vectors of ids 0..k-1 (a deterministic pinned
    rule both engines replay — works at every scale, unlike literal
    centroid constants). PORTABILITY: this couples the fit to a corpus
    with dense 0-based ids (the testdata layout); a corpus without ids
    0..k-1 fails loudly at the seed check below — re-key via row_number
    over a stable order first. Empty clusters keep their previous
    centroid.

    Distributed shape per iteration: ONE Arrow mapInPandas pass that
    assigns AND partially aggregates — each task emits its local
    (cid, dim, sum, count) table (k x dim rows per task, model grain),
    so the only thing that ever leaves Python is the partial update
    table, and the groupBy((cid, dim)) that follows sums task-grain
    partials instead of shuffling an exploded (row x dim) token stream
    (guide §2.3 "aggregate before you shuffle" + §4.1 column-boundary
    discipline; r16 optimization — the previous shape returned every
    row's q array back across the Arrow boundary and posexploded it to
    N·dim rows before the aggregate). The only collected object is the
    k x dim centroid table (bounded by model size, never data — the
    power_iteration_exact justification).
    int64 bounds: |v| <= ~scale x max|x| (~2e3 at unit-norm-ish inputs);
    per-pair squared distance <= dim*(2*2e3)^2 ~ 1e9; update sums
    <= n*2e3 — all far inside int64 at any realistic corpus.
    The distance matrix itself is computed BLAS-style in float64
    (x² − 2X·Cᵀ + c²): every intermediate is an integer, and with
    max|component| = M the largest intermediate in the expanded form
    is < 4·dim·M², so exactness requires 4·dim·M² < 2⁵³ — a
    DIM-DEPENDENT bound (ADVICE r16), enforced below as
    M < floor(sqrt(2⁵¹/dim)) (= 2²²·√2 at dim 64; milli-quantized
    embeddings sit ~2e3, far inside it at any supported dim). Under
    that bound the float64 matmul is EXACT and argmin ties (first
    minimum = lowest cid) match the int64 form bit-for-bit.

    Returns (cluster_id, dim_idx, coord_milli, n_members): the final
    centroids in milli-units plus each cluster's size under the final
    assignment."""
    import numpy as np
    import pandas as pd

    from pdf_brain_spark.operators.pca import _trunc_div

    q = vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(
            vec_col, lambda x: F.round(x.cast("double") * scale).cast("long")
        ).alias("q"),
    ).localCheckpoint(eager=True)  # scanned once per iteration

    seed_rows = q.filter(F.col("_id") < k).collect()  # bounded: k rows
    seed_ids = {int(r["_id"]) for r in seed_rows}
    if len(seed_rows) != k or seed_ids != set(range(k)):
        # exact-set AND arity check (ADVICE r9 + r10 review): non-dense
        # ids fail the set check, but a DUPLICATE id below k still
        # covers the set — only the row count exposes it. Without the
        # arity check the dict build below would keep whichever
        # duplicate collect() returned last (nondeterministic seeds) and
        # the DuckDB twin's c0 CTE would keep BOTH rows and double-count
        # every distance through its USING(d) join — a nondeterministic
        # hash mismatch instead of this named error.
        raise ValueError(
            f"kmeans_fit_exact_int seeds on the quantized vectors of ids "
            f"0..{k - 1}, exactly one row each (a deterministic rule both "
            f"engines replay); this corpus has {len(seed_rows)} rows with "
            f"ids {sorted(seed_ids)} below {k}. Re-key the vectors to "
            "dense, UNIQUE 0-based ids (row_number over a stable order) "
            "before fitting."
        )
    cents = {int(r["_id"]): [int(v) for v in r["q"]] for r in seed_rows}
    c_cur = [cents[i] for i in range(k)]
    sizes = [0] * k

    # exactness bound for the float64 BLAS distance form (see docstring):
    # 4·dim·M² < 2^53 ⟺ M < sqrt(2^51/dim); components at/above the
    # floor'd root raise (strictly inside the bound after the floor)
    comp_bound = math.isqrt((1 << 51) // dim)

    def _assign_agg_fn(c_mat):
        c_np = np.array(c_mat, dtype=np.float64)
        c2 = (c_np ** 2).sum(axis=1)

        def fn(it):
            S = np.zeros((k, dim), dtype=np.int64)
            N = np.zeros(k, dtype=np.int64)
            seen = False
            for pdf in it:
                if not len(pdf):
                    continue
                seen = True
                v = np.array([np.asarray(x) for x in pdf["q"]], dtype=np.int64)
                if int(np.abs(v).max(initial=0)) >= comp_bound:
                    raise ValueError(
                        f"kmeans_fit_exact_int: |component| >= "
                        f"sqrt(2^51/dim) = {comp_bound} (dim={dim}) breaks "
                        "the float64-exact distance contract; lower the scale"
                    )
                vf = v.astype(np.float64)
                d2 = (vf * vf).sum(axis=1)[:, None] - 2.0 * (vf @ c_np.T) + c2[None, :]
                a = d2.argmin(axis=1)
                for j in np.unique(a):
                    S[j] += v[a == j].sum(axis=0)
                N += np.bincount(a, minlength=k)
            if seen:
                yield pd.DataFrame(
                    {
                        "cid": np.repeat(np.arange(k), dim).astype("int32"),
                        "d": np.tile(np.arange(dim), k).astype("int32"),
                        "s": S.reshape(-1),
                        "n": np.repeat(N, dim),
                    }
                )

        return fn

    for _ in range(n_iter):
        partials = q.mapInPandas(_assign_agg_fn(c_cur), "cid int, d int, s long, n long")
        sums = (
            partials.groupBy("cid", "d")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()  # bounded: k x dim rows (model grain, never data)
        )
        c_next = [list(row) for row in c_cur]
        counts = [0] * k
        for r in sums:
            if int(r["n"]) > 0:
                c_next[r["cid"]][r["d"]] = _trunc_div(int(r["s"]), int(r["n"]))
                counts[r["cid"]] = int(r["n"])
        c_cur, sizes = c_next, counts

    return spark.createDataFrame(
        [
            (c, d, int(c_cur[c][d]), int(sizes[c]))
            for c in range(k)
            for d in range(dim)
        ],
        "cluster_id int, dim_idx int, coord_milli long, n_members long",
    )


def assign_stats_exact_int(
    q: DataFrame,
    cmat: list[list[int]],
    id_col: str = "vec_id",
    q_col: str = "q",
) -> DataFrame:
    """Assign milli-quantized vectors to a FINAL centroid matrix and
    partially aggregate the cluster-grain statistics IN the Arrow kernel
    (r17, guide §2.3 + §4.1 — the kmeans_fit_exact_int shape applied to
    the post-fit summary pass): each task emits at most k rows
    (cid, n, w, dsum, md2, mvid) instead of every row's argmin crossing
    back to the JVM for a whole-stage-codegen HOF ladder (8 zip_with +
    aggregate folds PER ROW — profiled at ~2× the cost of one Arrow
    BLAS pass on the same data for the cluster_validity_indices gate).

    Exact-integer contract (identical to the gate expressions replaced):
      - d2 via the float64 BLAS form under the dim-aware bound
        4·dim·M² < 2⁵³ (same guard as kmeans_fit_exact_int); argmin
        first-minimum = lowest cid, bit-matching the JVM
        array_min(struct(d2, cid)) lexicographic rule.
      - n, w = Σ d2: int64 partial sums per task (the fit kernel's
        documented bound argument), summed exactly by the final
        groupBy(cid).
      - dsum = Σ round(sqrt(d2)): np.sqrt is IEEE correctly-rounded like
        JVM Math.sqrt; the half-up round is floor(x + 0.5), exact for
        x < 2^51 (d2 < 2^53 ⇒ sqrt < 2^26.5) and the rule Spark's
        F.round(double) applies to non-negative values — pinned by
        tests/test_clustering.py against the HOF-ladder path.
      - (md2, mvid) = per-cid lexicographic min (d2, vec_id): the exact
        integer representative tiebreak of kmeans_clusters.
    Only cids with ≥1 member in a task are emitted, so the downstream
    groupBy(cid) sees exactly the cid set the per-row groupBy saw.

    Consumers re-aggregate: n_i = Σn, w_i = Σw, s_i = Σw div Σn,
    dsum = Σdsum, representative = min (md2, mvid) — exact integer
    identities of the original per-row aggregates."""
    import numpy as np
    import pandas as pd

    k = len(cmat)
    dim = len(cmat[0])
    comp_bound = math.isqrt((1 << 51) // dim)
    c_np_src = [list(c) for c in cmat]
    if max(abs(int(x)) for c in c_np_src for x in c) >= comp_bound:
        raise ValueError(
            f"assign_stats_exact_int: centroid |component| >= "
            f"sqrt(2^51/dim) = {comp_bound} (dim={dim}) breaks "
            "the float64-exact distance contract; lower the scale"
        )

    def fn(it):
        c_np = np.array(c_np_src, dtype=np.float64)
        c2 = (c_np ** 2).sum(axis=1)
        N = np.zeros(k, dtype=np.int64)
        W = np.zeros(k, dtype=np.int64)
        D = np.zeros(k, dtype=np.int64)
        MD2 = np.full(k, np.iinfo(np.int64).max, dtype=np.int64)
        MVID = np.full(k, np.iinfo(np.int64).max, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            v = np.array([np.asarray(x) for x in pdf[q_col]], dtype=np.int64)
            if int(np.abs(v).max(initial=0)) >= comp_bound:
                raise ValueError(
                    f"assign_stats_exact_int: |component| >= "
                    f"sqrt(2^51/dim) = {comp_bound} (dim={dim}) breaks "
                    "the float64-exact distance contract; lower the scale"
                )
            vid = pdf[id_col].to_numpy(dtype=np.int64)
            vf = v.astype(np.float64)
            d2 = (vf * vf).sum(axis=1)[:, None] - 2.0 * (vf @ c_np.T) + c2[None, :]
            a = d2.argmin(axis=1)
            d2min = d2[np.arange(len(a)), a].astype(np.int64)
            r = np.floor(np.sqrt(d2min.astype(np.float64)) + 0.5).astype(np.int64)
            N += np.bincount(a, minlength=k)
            # integer scatter-adds: exact int64 accumulation (bincount's
            # float64 weights would lose exactness past 2^53)
            np.add.at(W, a, d2min)
            np.add.at(D, a, r)
            for j in np.unique(a):
                m = a == j
                dj, vj = d2min[m], vid[m]
                ix = np.lexsort((vj, dj))[0]
                if (dj[ix], vj[ix]) < (MD2[j], MVID[j]):
                    MD2[j], MVID[j] = dj[ix], vj[ix]
        present = np.flatnonzero(N > 0)
        if len(present):
            yield pd.DataFrame(
                {
                    "cid": present.astype("int32"),
                    "n": N[present],
                    "w": W[present],
                    "dsum": D[present],
                    "md2": MD2[present],
                    "mvid": MVID[present],
                }
            )

    return q.select(id_col, q_col).mapInPandas(
        fn, "cid int, n long, w long, dsum long, md2 long, mvid long"
    )
