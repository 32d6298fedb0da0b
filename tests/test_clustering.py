"""The exact-integer clustering kernels (operators/clustering.py): the
in-kernel partial aggregates of kmeans_fit_exact_int and
assign_stats_exact_int equal the row-level references they replaced, and
both raise by name past the float64-exactness bound.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest


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


def _hof_reference(spark, q, cmat):
    """The per-row JVM path assign_stats_exact_int replaced: 8-way
    array_min(struct(quantized_d2, cid)) ladder + per-row aggregates."""
    from pyspark.sql import functions as F

    from pdf_brain_spark.operators.clustering import quantized_d2

    k = len(cmat)
    best = F.array_min(
        F.array(*[
            F.struct(quantized_d2("q", cmat[c]).alias("d2"), F.lit(c).alias("cid"))
            for c in range(k)
        ])
    )
    assigned = q.select(
        "vec_id",
        best.getField("cid").alias("cid"),
        best.getField("d2").alias("d2"),
    )
    return {
        r["cid"]: (
            int(r["n"]),
            int(r["w"]),
            int(r["dsum"]),
            int(r["md2"]),
            int(r["mvid"]),
        )
        for r in assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("d2").alias("w"),
            F.sum(F.round(F.sqrt(F.col("d2").cast("double"))).cast("long")).alias(
                "dsum"
            ),
            F.min(F.struct(F.col("d2"), F.col("vec_id")))
            .getField("vec_id")
            .alias("mvid"),
            F.min(F.struct(F.col("d2"), F.col("vec_id")))
            .getField("d2")
            .alias("md2"),
        )
        .collect()
    }


def test_assign_stats_matches_hof_ladder_fuzz(spark):
    """assign_stats_exact_int (Arrow in-kernel partial aggregation) must
    reproduce the replaced HOF-ladder per-row aggregates exactly —
    including (d2, vec_id) representative ties from duplicated vectors
    and the HALF_UP sqrt rounding — across fuzzed shapes."""
    from pyspark.sql import functions as F

    from pdf_brain_spark.operators.clustering import assign_stats_exact_int

    rng = np.random.default_rng(1717)
    for trial in range(6):
        n = int(rng.integers(20, 200))
        k = int(rng.integers(2, 6))
        dim = int(rng.integers(2, 9))
        base = rng.integers(-3000, 3000, size=(n, dim))
        # heavy duplication: force argmin and representative ties
        dup_of = rng.integers(0, n, size=n // 2)
        base[: len(dup_of)] = base[dup_of]
        cmat = [[int(v) for v in row] for row in rng.integers(-3000, 3000, size=(k, dim))]
        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "q": [list(map(int, row)) for row in base],
            }
        )
        q = spark.createDataFrame(pdf, "vec_id long, q array<long>")
        got = {
            r["cid"]: (
                int(r["n"]),
                int(r["w"]),
                int(r["dsum"]),
                int(r["md2"]),
                int(r["mvid"]),
            )
            for r in assign_stats_exact_int(q, cmat)
            .groupBy("cid")
            .agg(
                F.sum("n").alias("n"),
                F.sum("w").alias("w"),
                F.sum("dsum").alias("dsum"),
                F.min(F.struct(F.col("md2"), F.col("mvid")))
                .getField("md2")
                .alias("md2"),
                F.min(F.struct(F.col("md2"), F.col("mvid")))
                .getField("mvid")
                .alias("mvid"),
            )
            .collect()
        }
        want = _hof_reference(spark, q, cmat)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_assign_stats_bound_guard(spark):
    """Components at/above the dim-aware float64-exactness bound must
    raise by name (same contract as kmeans_fit_exact_int)."""
    import math

    from pdf_brain_spark.operators.clustering import assign_stats_exact_int

    dim = 2
    bound = math.isqrt((1 << 51) // dim)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(3, dtype=np.int64),
            "q": [[bound + 7, 0], [0, 1], [1, 0]],
        }
    )
    q = spark.createDataFrame(pdf, "vec_id long, q array<long>")
    with pytest.raises(Exception, match="float64-exact"):
        assign_stats_exact_int(q, [[0, 0], [1, 1]]).collect()


def test_assign_stats_centroid_bound_guard(spark):
    """An out-of-bound CENTROID component raises by name when the plan is
    built, before any row is read."""
    import math

    from pdf_brain_spark.operators.clustering import assign_stats_exact_int

    bound = math.isqrt((1 << 51) // 2)
    q = spark.createDataFrame([(0, [1, 0])], "vec_id long, q array<long>")
    with pytest.raises(ValueError, match="centroid .*float64-exact"):
        assign_stats_exact_int(q, [[0, 0], [-bound, 1]])
