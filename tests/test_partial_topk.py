"""The shared batched partial-top-k pipeline
(`operators/vector_search.py::partial_topk_batch`) on degenerate query
batches, and its probe-union scan filter. Row parity of each kernel
under exact ties across Arrow batches lives next to the kernel's other
parity tests (test_score_semantics, test_graph_and_ann,
test_quantization)."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
QSCHEMA = "query_id long, query_vec array<double>"


@pytest.fixture(scope="module")
def kernels(spark):
    """name -> fn(queries) for the seven batched serving kernels, over
    small indexes built once."""
    from pdf_brain_spark.operators.ann import ivf_index, ivf_search_topk_batch
    from pdf_brain_spark.operators.quantization import (
        hamming_rerank_topk_batch,
        ivfpq_index,
        ivfpq_index_residual,
        ivfpq_topk_adc_batch,
        ivfpq_topk_adc_batch_residual,
        pq_topk_adc_batch,
    )
    from pdf_brain_spark.operators.vector_search import mmr_rerank_batch, similarity_join_topk
    from pdf_brain_spark.sources.loaders import load_table

    emb = load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    emb = emb.localCheckpoint(eager=True)
    ivf, cents = ivf_index(emb, n_lists=4, seed=1)
    ivf = ivf.localCheckpoint(eager=True)
    pq, pq_cents, books = ivfpq_index(emb, n_lists=4, n_codes=16, seed=7)
    pq = pq.localCheckpoint(eager=True)
    res, res_cents, res_books = ivfpq_index_residual(emb, n_lists=4, n_codes=16, seed=7)
    res = res.localCheckpoint(eager=True)
    return {
        "similarity_join_topk": lambda q: similarity_join_topk(q, emb, k=3),
        "ivf_search_topk_batch": lambda q: ivf_search_topk_batch(ivf, cents, q, k=3, n_probes=2),
        "pq_topk_adc_batch": lambda q: pq_topk_adc_batch(pq.drop("list_id"), books, q, k=3),
        "ivfpq_topk_adc_batch": lambda q: ivfpq_topk_adc_batch(
            pq, pq_cents, books, q, k=3, n_probes=2
        ),
        "ivfpq_topk_adc_batch_residual": lambda q: ivfpq_topk_adc_batch_residual(
            res, res_cents, res_books, q, k=3, n_probes=2
        ),
        "mmr_rerank_batch": lambda q: mmr_rerank_batch(emb, q, k=3, n_candidates=6),
        "hamming_rerank_topk_batch": lambda q: hamming_rerank_topk_batch(
            emb, q, k=3, n_candidates=6
        ),
        "_query_vec": [float(x) for x in emb.filter(F.col("vec_id") == 5).first()["embedding"]],
    }


NAMES = [
    "similarity_join_topk",
    "ivf_search_topk_batch",
    "pq_topk_adc_batch",
    "ivfpq_topk_adc_batch",
    "ivfpq_topk_adc_batch_residual",
    "mmr_rerank_batch",
    "hamming_rerank_topk_batch",
]


@pytest.mark.parametrize("name", NAMES)
def test_empty_query_batch_returns_typed_empty_result(spark, kernels, name):
    """An empty serving batch is zero rows with exactly the columns and
    types of a non-empty call — not a driver-side numpy AxisError."""
    one = spark.createDataFrame([(5, kernels["_query_vec"])], QSCHEMA)
    empty = spark.createDataFrame([], QSCHEMA)
    full = kernels[name](one)
    out = kernels[name](empty)
    assert out.dtypes == full.dtypes
    assert out.collect() == []
    assert full.count() > 0


@pytest.mark.parametrize("name", NAMES)
def test_zero_norm_or_nonfinite_query_raises_by_name(spark, kernels, name):
    """A query without a cosine direction fails on the driver with a
    ValueError naming its ids — before any corpus job, instead of a
    worker broadcast error, a DIVIDE_BY_ZERO, or ranked rows for a
    direction that does not exist."""
    q = kernels["_query_vec"]
    bad = spark.createDataFrame(
        [(1, q), (7, [0.0] * len(q)), (9, [float("nan")] + q[1:]), (11, [float("inf")] + q[1:])],
        QSCHEMA,
    )
    with pytest.raises(ValueError, match=r"query_id \[7, 9, 11\]"):
        kernels[name](bad)


def test_tiny_norm_query_is_a_valid_direction(spark, kernels):
    """A query scaled by 2^-50 (norm far below 1e-12, exactly the same
    direction) is accepted and returns the unscaled query's rows bit for
    bit: normalization divides by the norm itself, not a 1e-12 floor."""
    q = kernels["_query_vec"]
    unit = spark.createDataFrame([(5, q)], QSCHEMA)
    tiny = spark.createDataFrame([(5, [x * 2.0**-50 for x in q])], QSCHEMA)
    for name in ("similarity_join_topk", "pq_topk_adc_batch"):
        assert sorted(kernels[name](tiny).collect()) == sorted(kernels[name](unit).collect())


def test_ivf_batch_scan_prunes_unprobed_lists(spark):
    """ivf_search_topk_batch filters its scan to the union of the probed
    lists (a partition filter on the persisted layout), so unprobed
    lists are never read; the filter is in the optimized plan with
    exactly that union."""
    from pdf_brain_spark.operators.ann import ivf_index, ivf_search_topk_batch
    from pdf_brain_spark.sources.loaders import load_table

    emb = load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    indexed, cents = ivf_index(emb, n_lists=8, seed=1)
    indexed = indexed.localCheckpoint(eager=True)  # a persisted index, as served
    q_rows = emb.filter(F.col("vec_id") < 2).collect()
    queries = spark.createDataFrame([(r.vec_id, list(r.embedding)) for r in q_rows], QSCHEMA)
    out = ivf_search_topk_batch(indexed, cents, queries, k=3, n_probes=2)

    Q = np.asarray([r.embedding for r in q_rows], dtype=np.float64)
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    C = np.asarray(cents, dtype=np.float64)
    C = C / (np.linalg.norm(C, axis=1, keepdims=True) + 1e-12)
    union = {int(l) for l in np.argsort(-(Q @ C.T), axis=1)[:, :2].ravel()}
    assert len(union) < 8
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    found = re.findall(r"list_id#\d+ IN \(([\d,\s]+)\)", plan)
    assert found, plan
    assert {int(x) for x in found[0].split(",")} == union


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
