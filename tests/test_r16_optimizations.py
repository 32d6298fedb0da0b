"""Focused tests for the r16 optimization-round kernel changes: each
optimization that touched an operator's internals gets an equivalence
pin against the shape it replaced (same results, cheaper plan/kernel).
"""

from __future__ import annotations

import math

import numpy as np
import pytest


def _topk_per_query_reference(dist_col, vid, take):
    """The per-query selection (argpartition + tied-tail lexsort) the
    serving kernels once called in a Python loop, kept verbatim as the
    reference the vectorized path must match."""
    b = dist_col.shape[0]
    if take >= b:
        cand = np.arange(b)
    else:
        part = np.argpartition(dist_col, take - 1)[:take]
        kth = dist_col[part].max()
        cand = np.flatnonzero(dist_col <= kth)
    order = np.lexsort((vid[cand], dist_col[cand]))
    return cand[order[:take]]


def test_topk_rows_tiebroken_batch_matches_per_query():
    from pdf_brain_spark.operators.vector_search import topk_rows_tiebroken_batch

    rng = np.random.default_rng(0)
    for trial in range(300):
        b = int(rng.integers(1, 60))
        q = int(rng.integers(1, 12))
        take = int(rng.integers(1, 70))
        if trial % 2:
            dist = rng.random(size=(b, q))
        else:
            # heavy integer ties — the adversarial case for truncation
            dist = rng.integers(0, 4, size=(b, q)).astype(np.float64)
        vid = rng.permutation(100000)[:b]
        got = topk_rows_tiebroken_batch(dist, vid, take)
        assert got.shape == (min(take, b), q)
        for j in range(q):
            ref = _topk_per_query_reference(dist[:, j], vid, min(take, b))
            assert np.array_equal(got[:, j], ref)


def test_kmeans_partial_agg_update_matches_exploded_reference(spark):
    """kmeans_fit_exact_int now partially aggregates (cid, d, s, n)
    inside the Arrow task instead of returning every row's q array and
    posexploding it. Pin: the fitted centroid table is IDENTICAL to a
    driver-local numpy replay of the exploded reference recurrence
    (integer argmin with lowest-cid ties, truncating-division update)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_brain_spark.operators.clustering import kmeans_fit_exact_int
    from pdf_brain_spark.operators.pca import _trunc_div

    rng = np.random.default_rng(7)
    n, dim, k, n_iter, scale = 257, 16, 5, 3, 1000
    X = rng.standard_normal((n, dim)) * 1.7
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": [list(map(float, r)) for r in X]}
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    got = {
        (r["cluster_id"], r["dim_idx"]): (r["coord_milli"], r["n_members"])
        for r in kmeans_fit_exact_int(spark, df, k=k, dim=dim, n_iter=n_iter).collect()
    }

    # driver-local replay of the documented recurrence on exact integers.
    # Quantize with Spark's F.round rule — HALF_UP (away from zero) for
    # doubles — not np.round (half-EVEN), which would diverge on exact
    # .5-milli boundaries (ADVICE r16).
    def _half_up(v: float) -> int:
        return int(math.copysign(math.floor(abs(v) + 0.5), v))

    q = np.array([[_half_up(v) for v in x * scale] for x in X], dtype=np.int64)
    C = q[:k].copy()
    sizes = np.zeros(k, dtype=np.int64)
    for _ in range(n_iter):
        d2 = ((q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)  # first minimum == lowest cid on ties
        C_next = C.copy()
        counts = np.zeros(k, dtype=np.int64)
        for j in range(k):
            members = q[a == j]
            if len(members):
                counts[j] = len(members)
                C_next[j] = np.array(
                    [_trunc_div(int(s), int(len(members))) for s in members.sum(axis=0)]
                )
        C, sizes = C_next, counts
    want = {
        (c, d): (int(C[c][d]), int(sizes[c])) for c in range(k) for d in range(dim)
    }
    assert got == want


def test_kmeans_fit_float64_bound_guard(spark):
    """Components at/above the DIM-AWARE bound sqrt(2^51/dim) (ADVICE
    r16: exactness of the expanded x²−2X·Cᵀ+c² form needs
    4·dim·M² < 2^53, so the old flat 2^22 check was silently lax for
    dim ≥ ~128) break the float64-exact distance contract and must
    raise by name, not return wrong argmins."""
    import math

    import pandas as pd

    from pdf_brain_spark.operators.clustering import kmeans_fit_exact_int

    bound = math.isqrt((1 << 51) // 2)  # dim=2 → 2^25
    big = float(bound + 7) / 1000.0  # quantizes above the dim-2 bound
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(4, dtype=np.int64),
            "embedding": [[big, 0.0], [0.0, 1.0], [1.0, 0.0], [0.5, 0.5]],
        }
    )
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="float64-exact"):
        kmeans_fit_exact_int(spark, df, k=2, dim=2, n_iter=1).collect()
    # and just UNDER the dim-2 bound must fit cleanly (the flat-2^22
    # guard would have rejected this legal input)
    ok = float(bound - 1) / 1000.0
    pdf2 = pd.DataFrame(
        {
            "vec_id": np.arange(4, dtype=np.int64),
            "embedding": [[ok, 0.0], [0.0, 1.0], [1.0, 0.0], [0.5, 0.5]],
        }
    )
    df2 = spark.createDataFrame(pdf2, "vec_id long, embedding array<double>")
    assert kmeans_fit_exact_int(spark, df2, k=2, dim=2, n_iter=1).count() == 4
