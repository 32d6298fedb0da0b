"""The SQL-fragment vector expressions (functions/vector.py): exact rows
against a numpy brute force (at dims 64 and 1024), edge rows of a
known-dimension operand, quoting of odd column names, the py4j cost of
building a top-k plan, and the size and reuse of its generated code.

The brute force replays the engine's arithmetic: components cast to
double, a left-to-right multiply-add fold, a correctly rounded sqrt, and
the (distance, vec_id) order. Every comparison is exact — no tolerance.
"""

from __future__ import annotations

import gc
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

DIM = 64
N = 400


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(2024)
    vecs = rng.standard_normal((N, DIM)).astype(np.float32)
    vecs[N // 2 : N // 2 + 40] = vecs[:40]  # duplicated vectors: distance ties
    vids = np.arange(N, dtype=np.int64) * 7 % N  # ids not in scan order
    emb = spark.createDataFrame(
        [(int(v), [float(x) for x in row]) for v, row in zip(vids, vecs)],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    return emb, vecs, vids


def _queries(vecs):
    """Literal queries holding every awkward double literal shape."""
    rng = np.random.default_rng(7)
    base = [float(x) for x in rng.standard_normal(DIM)]
    awkward = list(base)
    awkward[:8] = [-0.0, 3.0, -2.0, 1e-05, 3.2e-300, -1e-05, 0.0, 125.0]
    return [
        awkward,
        [float(x) for x in vecs[3]],  # a corpus vector (and its duplicate)
        [float(round(x * 4)) for x in base],  # integer-valued floats
        [-abs(x) * 1e-3 for x in base],  # all negative, small
    ]


def _fold(terms):
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def _brute_similarity(vecs, q):
    v = vecs.astype(np.float64)
    dim = v.shape[1]
    dot = _fold([v[:, i] * q[i] for i in range(dim)])
    nv = np.sqrt(_fold([v[:, i] * v[:, i] for i in range(dim)]))
    qn = math.sqrt(_fold([float(x) * float(x) for x in q]))
    return dot / (nv * qn)


def _brute_topk(vecs, vids, q, k):
    dist = 1.0 - _brute_similarity(vecs, q)
    score = 1.0 - dist / 2.0
    order = np.lexsort((vids, dist))[:k]
    return [(int(vids[i]), float(dist[i]), float(score[i])) for i in order]


def _rows(df):
    return [(r["vec_id"], r["distance"], r["score"]) for r in df.collect()]


def test_topk_rows_exact(corpus):
    from pdf_brain_spark.operators.vector_search import topk

    emb, vecs, vids = corpus
    for q in _queries(vecs):
        for k in (5, 50):
            assert _rows(topk(emb, q, k=k)) == _brute_topk(vecs, vids, q, k)


def test_ivf_search_rows_exact(corpus):
    from pdf_brain_spark.operators.ann import ivf_search

    emb, vecs, vids = corpus
    indexed = emb.withColumn("list_id", (F.col("vec_id") % 4).cast("int"))
    cents = [[float(x) for x in vecs[i]] for i in range(4)]
    for q in _queries(vecs):
        # every list probed: the candidate set is the whole corpus
        got = _rows(ivf_search(indexed, cents, q, k=12, n_probes=4))
        assert got == _brute_topk(vecs, vids, q, 12)


def test_ivf_search_persisted_rows_exact(spark, corpus, tmp_path):
    from pdf_brain_spark.streaming.ann_ingest import (
        ivf_search_persisted,
        make_ann_ingest_batch_fn,
    )

    emb, vecs, vids = corpus
    cents = [[float(x) for x in vecs[i]] for i in range(5)]
    idx = str(tmp_path / "ann_index")
    fn = make_ann_ingest_batch_fn(idx, cents)
    fn(emb.filter(F.col("vec_id") % 2 == 0), 0)
    fn(emb.filter(F.col("vec_id") % 2 == 1), 1)
    for q in _queries(vecs):
        got = _rows(ivf_search_persisted(spark, idx, cents, q, k=10, n_probes=5))
        assert got == _brute_topk(vecs, vids, q, 10)


def test_euclidean_distance_exact_both_shapes(spark, corpus):
    from pdf_brain_spark.functions.vector import euclidean_distance

    emb, vecs, vids = corpus
    c = [float(x) for x in vecs[5] * np.float32(0.5)]
    crossed = emb.crossJoin(spark.createDataFrame([(c,)], "c array<double>"))
    got = {
        r["vec_id"]: (r["hof"], r["unrolled"], r["lit"])
        for r in crossed.select(
            "vec_id",
            euclidean_distance("embedding", "c").alias("hof"),
            euclidean_distance("embedding", "c", dim=DIM).alias("unrolled"),
            euclidean_distance("embedding", c).alias("lit"),
        ).collect()
    }
    v = vecs.astype(np.float64)
    want = np.sqrt(_fold([(v[:, i] - c[i]) * (v[:, i] - c[i]) for i in range(DIM)]))
    for i, vid in enumerate(vids):
        w = float(want[i])
        assert got[int(vid)] == (w, w, w)


def test_literal_query_matches_column_query(spark, corpus):
    """The driver-folded literal norm scores exactly like the same query
    held in a column (per-row norm, higher-order shape)."""
    from pdf_brain_spark.functions.vector import cosine_distance

    emb, vecs, _ = corpus
    for q in _queries(vecs):
        crossed = emb.crossJoin(spark.createDataFrame([(q,)], "q array<double>"))
        rows = crossed.select(
            cosine_distance("embedding", "q").alias("col"),
            cosine_distance("embedding", q).alias("lit"),
        ).collect()
        assert all(r["col"] == r["lit"] for r in rows)


def test_fragments_quote_odd_column_names(spark):
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql
    from pdf_brain_spark.functions.vector import (
        cosine_distance,
        euclidean_distance,
        is_valid_embedding,
    )
    from pdf_brain_spark.operators.dedup import minhash_signatures_from_sets

    df = spark.createDataFrame(
        [(1, "The quick  brown fox", [3.0, 4.0], [3.0, 4.0]),
         (2, "a b", [1.0, 0.0], [0.0, 2.0])],
        "`doc id` int, `my text` string, `a.b` array<float>, `q v` array<float>",
    )
    rows = df.orderBy("`doc id`").select(
        tokenize("my text").alias("t"),
        shingles(tokenize_sql("my text"), 2).alias("s"),
        cosine_distance("a.b", "q v").alias("d"),
        cosine_distance("a.b", [0.0, 1.0]).alias("dl"),
        euclidean_distance("a.b", "q v", dim=2).alias("e"),
        is_valid_embedding("a.b", 2).alias("ok"),
    ).collect()
    assert rows[0]["t"] == ["the", "quick", "brown", "fox"]
    assert rows[0]["s"] == ["the quick", "quick brown", "brown fox"]
    assert [r["d"] for r in rows] == [0.0, 1.0]
    assert [r["dl"] for r in rows] == [1.0 - 4.0 / 5.0, 1.0]
    assert [r["e"] for r in rows] == [0.0, math.sqrt(5.0)]
    assert [r["ok"] for r in rows] == [True, True]

    sets = spark.createDataFrame(
        [(1, ["a b", "b c"]), (2, ["x y"])], "`doc id` long, `sh.set` array<string>"
    )
    sig = minhash_signatures_from_sets(sets, id_col="doc id", set_col="sh.set")
    assert sig.columns[0] == "doc id" and sig.count() == 2


def test_literal_shorter_than_dim_raises():
    from pdf_brain_spark.functions.vector import cosine_distance

    with pytest.raises(ValueError, match="shorter than dim"):
        cosine_distance("embedding", [1.0, 2.0], dim=3)


def test_topk_build_chatter_guard(spark, corpus):
    """Building a dim-64 top-k plan stays a handful of gateway round
    trips; the Column-tree form made ~3,700."""
    from pdf_brain_spark.operators.vector_search import topk

    emb, vecs, _ = corpus
    q = _queries(vecs)[0]
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting_send(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    # py4j releases collected JavaObjects with commands of its own; keep
    # the collector from sending them while the count runs.
    gc.collect()
    gc.disable()
    client.send_command = counting_send
    try:
        topk(emb, q, k=10)
    finally:
        del client.send_command
        gc.enable()
    assert calls <= 100, calls


EDGE_Q = [1.0, 2.0, 3.0, 4.0]
EDGE_ROWS = {
    "long": [2.0, 1.0, 0.5, 3.0, 7.0],
    "short": [2.0, 1.0, 0.5],
    "null_vector": None,
    "null_element": [2.0, None, 0.5, 3.0],
    "zero_norm": [0.0, 0.0, 0.0, 0.0],
}


@pytest.fixture(scope="module")
def edge_rows(spark):
    return spark.createDataFrame(
        [(name, row, EDGE_Q) for name, row in EDGE_ROWS.items()],
        "name string, embedding array<float>, q array<double>",
    ).localCheckpoint(eager=True)


@pytest.mark.parametrize("operand", ["literal", "dim_column"])
def test_known_dim_edge_semantics(edge_rows, operand):
    """A known-dimension operand indexes the row with element_at: a longer
    row is scored on its `dim`-prefix, a shorter one raises, a NULL vector
    or NULL element gives a NULL distance and a zero-norm row raises
    (ANSI division). A literal query and a `dim=` column query agree."""
    from pyspark.errors import PySparkException

    from pdf_brain_spark.functions.vector import cosine_distance

    if operand == "literal":
        dist = cosine_distance("embedding", EDGE_Q)
    else:
        dist = cosine_distance("embedding", "q", dim=len(EDGE_Q))

    def run(name):
        return edge_rows.filter(F.col("name") == name).select(dist.alias("d")).first()["d"]

    prefix = EDGE_ROWS["long"][: len(EDGE_Q)]
    want = 1.0 - _brute_similarity(np.array([prefix]), EDGE_Q)[0]
    assert run("long") == want
    assert run("null_vector") is None
    assert run("null_element") is None
    with pytest.raises(PySparkException, match="INVALID_ARRAY_INDEX_IN_ELEMENT_AT"):
        run("short")
    with pytest.raises(PySparkException, match="DIVIDE_BY_ZERO"):
        run("zero_norm")


WIDE_DIM = 1024
WIDE_N = 300


@pytest.fixture(scope="module")
def wide_corpus(spark):
    """The reference's own embedding width (1024-dim mxbai vectors)."""
    rng = np.random.default_rng(1024)
    vecs = rng.standard_normal((WIDE_N, WIDE_DIM)).astype(np.float32)
    vids = np.arange(WIDE_N, dtype=np.int64) * 11 % WIDE_N
    emb = spark.createDataFrame(
        [(int(v), [float(x) for x in row]) for v, row in zip(vids, vecs)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint(eager=True)
    queries = [[float(x) for x in rng.standard_normal(WIDE_DIM)], [float(x) for x in vecs[7]]]
    return emb, vecs, vids, queries


def test_wide_literal_query_rows_exact(wide_corpus):
    """A 1024-dim literal query parses and scores exactly (an unrolled
    per-component chain was too deep for the SQL parser at this width)."""
    from pdf_brain_spark.functions.vector import cosine_similarity
    from pdf_brain_spark.operators.ann import ivf_search
    from pdf_brain_spark.operators.vector_search import topk

    emb, vecs, vids, queries = wide_corpus
    indexed = emb.withColumn("list_id", (F.col("vec_id") % 3).cast("int"))
    cents = [[float(x) for x in vecs[i]] for i in range(3)]
    for q in queries:
        want = _brute_topk(vecs, vids, q, 25)
        assert _rows(topk(emb, q, k=25)) == want
        assert _rows(ivf_search(indexed, cents, q, k=25, n_probes=3)) == want
        sims = dict(
            emb.select("vec_id", cosine_similarity("embedding", q, dim=WIDE_DIM).alias("s"))
            .collect()
        )
        brute = _brute_similarity(vecs, q)
        assert sims == {int(v): float(s) for v, s in zip(vids, brute)}


def _codegen_stages(plan):
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _codegen_stages(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _codegen_stages(plan.plan())
        return
    if name == "WholeStageCodegenExec":
        yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _codegen_stages(children.apply(i))


def test_topk_codegen_is_jit_sized_and_query_independent(spark, corpus, wide_corpus):
    """Every whole-stage-codegen method of a top-k plan stays under
    HotSpot's 8,000-byte JIT limit (`DontCompileHugeMethods`) at any
    width, and a query compiles no class of its own. Measured on local[4]
    (`maxMethodCodeSize` of `CodeGenerator.compile(wscg.doCodeGen()._2())`,
    and the `CodegenMetrics.METRIC_COMPILATION_TIME` count): the unrolled
    element_at chain it replaced gave a `processNext` of 9,873-10,187
    bytes at dim 64, never JIT-compiled, failed to parse at dim 1024, and
    compiled two new classes (~130 ms) for every distinct query. The
    higher-order form gives at most 435 bytes at dims 64 and 1024, and a
    repeated or new query compiles nothing."""
    from pdf_brain_spark.operators.vector_search import topk

    jvm = spark._jvm
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for emb, q, other in (
        (corpus[0], _queries(corpus[1])[0], _queries(corpus[1])[1]),
        (wide_corpus[0], *wide_corpus[3]),
    ):
        df = topk(emb, q, k=10)
        df.collect()  # adaptive execution settles its stages when run
        stages = list(_codegen_stages(df._jdf.queryExecution().executedPlan()))
        assert stages
        for stage in stages:
            stats = codegen.compile(stage.doCodeGen()._2())._2()
            assert stats.maxMethodCodeSize() < 8000, stats.maxMethodCodeSize()
        before = compiles.getCount()
        topk(emb, q, k=10).collect()
        topk(emb, other, k=10).collect()
        assert compiles.getCount() - before == 0
