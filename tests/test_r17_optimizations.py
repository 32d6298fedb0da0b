"""Equivalence pins for the r17 optimization round: every rewrite must
pin against the shape it replaced (same results, cheaper plan/kernel).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.usefixtures("spark")


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


def test_minhash_signatures_exprstr_matches_lambda_form(spark):
    """The selectExpr string form of minhash_signatures_from_sets must
    reproduce the former python-lambda Column construction exactly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_brain_spark.operators.dedup import (
        MINHASH_HASHES,
        MINHASH_PRIME,
        _minhash_coeffs,
        minhash_signatures_from_sets,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "sh_set": [
                ["a b c", "b c d", "c d e"],
                ["a b c"],
                ["x y z", "y z w"],
                ["q r s", "r s t", "s t u", "t u v"],
            ],
        }
    )
    sets = spark.createDataFrame(pdf, "doc_id long, sh_set array<string>")

    # verbatim pre-r17 construction
    bases = F.transform(
        F.col("sh_set"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
    )
    d = sets.select(F.col("doc_id"), bases.alias("_bases"))
    def _affine(a, b):
        return lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)

    cols = []
    for j in range(MINHASH_HASHES):
        a, b = _minhash_coeffs(j)
        cols.append(
            F.array_min(
                F.transform(F.col("_bases"), _affine(a, b))
            ).alias(f"h{j}")
        )
    want = sorted(tuple(r) for r in d.select("doc_id", *cols).collect())
    got = sorted(tuple(r) for r in minhash_signatures_from_sets(sets).collect())
    assert got == want


def test_tokenize_shingles_sql_fragments_match_lambda_forms(spark):
    """tokenize()/shingles() built via SQL fragments (tokenize_sql /
    shingles_sql, r17 §7.3 py4j-chatter fix) must reproduce the verbatim
    python-lambda Column constructions exactly, across k values and edge
    texts (empty, whitespace-only, < k tokens, trailing whitespace)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_brain_spark.functions.text import (
        shingles,
        tokenize,
        tokenize_sql,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(7)),
            "text": [
                "The quick brown Fox  jumps over the lazy dog",
                "",
                "   ",
                "one",
                "a b",
                "x  y\tz\nw",
                "  trailing space  ",
            ],
        }
    )
    docs = spark.createDataFrame(pdf, "doc_id long, text string")

    # verbatim pre-r17 constructions
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tok_old = F.filter(t, lambda x: x != "")
    for k in (2, 3, 5):
        n = F.size(tok_old)
        out = tok_old
        for j in range(1, k):
            shifted = F.slice(tok_old, j + 1, F.greatest(n - j, F.lit(0)))
            out = F.zip_with(
                out, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
            )
        sh_old = F.filter(out, lambda x: x.isNotNull())
        want = [
            tuple(r)
            for r in docs.select(
                "doc_id", tok_old.alias("t"), sh_old.alias("s")
            )
            .orderBy("doc_id")
            .collect()
        ]
        got = [
            tuple(r)
            for r in docs.select(
                "doc_id",
                tokenize("text").alias("t"),
                shingles(tokenize_sql("text"), k).alias("s"),
            )
            .orderBy("doc_id")
            .collect()
        ]
        assert got == want, f"k={k}"
