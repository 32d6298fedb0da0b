from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from pdf_brain_spark.session import get_spark

    s = get_spark("pdf_brain_spark_tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def small_arrow_batches(spark):
    """Arrow batches of 37 rows for one test, so exact distance ties
    between a vector and its duplicate cross batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")
    yield 37
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def tied_copies(spark):
    """fn(vectors, elem_type) -> (vec_id, embedding) DataFrame holding
    every vector under six ids (i, 1000+i, …, 5000+i), the copies
    adjacent and in DESCENDING id order, in contiguous partitions. With
    small Arrow batches and k < 6 a batch's truncation cuts inside a
    group of exactly tied copies (a tie order other than (distance, id)
    keeps the wrong ones), and groups also straddle batch boundaries."""

    def build(vectors, elem_type="double"):
        rows = [
            (c * 1000 + i, list(v)) for i, v in enumerate(vectors) for c in range(5, -1, -1)
        ]
        return spark.createDataFrame(
            rows, f"vec_id long, embedding array<{elem_type}>"
        ).localCheckpoint(eager=True)

    return build


@pytest.fixture(scope="session")
def exact_tie_corpus(spark, tied_copies):
    """(vectors, queries) whose cosine distances are EXACT in every
    summation order: 16-dim vectors with entries in {0, ±1, ±2} and norm
    4, so normalized components are multiples of 1/4 and every dot
    product is a multiple of 1/16. Distances take 17 values, so distinct
    vectors tie too. Exactness matters because a BLAS matmul rounds the
    same row differently depending on its position in the batch; only
    exact inputs make the exhaustive SQL path and the Arrow kernels see
    the same ties. Half the queries are corpus vectors (six copies at
    distance 0)."""
    import numpy as np

    rng = np.random.default_rng(5)

    def vec():
        v = np.zeros(16)
        n_two = int(rng.choice([0, 3, 4]))  # 4·n_two + n_one == 16
        pos = rng.permutation(16)
        v[pos[:n_two]] = 2.0
        v[pos[n_two : 16 - 3 * n_two]] = 1.0
        return (v * rng.choice([-1.0, 1.0], size=16)).tolist()

    base = [vec() for _ in range(40)]
    queries = spark.createDataFrame(
        [(q, base[q * 7] if q < 5 else vec()) for q in range(10)],
        "query_id long, query_vec array<double>",
    )
    return tied_copies(base), queries


@pytest.fixture
def jobs_fired(spark):
    """fn(build) -> (build(), Spark jobs submitted while it ran), read from
    the status store's job ids once the listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def last_job():
        sc.listenerBus().waitUntilEmpty()
        return max((j.jobId() for j in as_java(sc.statusStore().jobsList(None))), default=-1)

    def run(build):
        before = last_job()
        out = build()
        return out, last_job() - before

    return run
