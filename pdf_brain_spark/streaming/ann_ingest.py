"""Streaming incremental ANN index maintenance — the continuous-crawl
answer for the VECTOR side, composing the two storage/streaming designs
already attested separately in this repo:

  * the IVF PARTITION-column layout (sources/layout.py::
    write_ivf_partitioned): unprobed lists prune at planning time;
  * the replay-idempotent per-batch_id subdirectory protocol
    (streaming/events.py::make_incremental_dedup_batch_fn): each
    micro-batch overwrites ONLY its own `batch_id=N` subdir, so an
    at-least-once foreachBatch composes to effectively-once index state.

A stream of arriving vectors is assigned to FIXED IVF centroids (fit once,
seeded, on the initial corpus — the map-only Arrow/BLAS assigner from
operators/clustering.py; no shuffle, no refit per batch) and appended
under `batch_id=N/list_id=L` directories. Search reads the accumulated
index with a `list_id IN (probes)` filter — a PartitionFilter across every
batch generation — and exact-re-ranks inside the probed lists, so returned
scores are exact and only candidate recall is approximate, exactly as in
the batch IVF path (operators/ann.py).

Centroid staleness is the honest operational caveat: fixed centroids keep
every batch map-only, but a drifting corpus degrades list balance and
recall over time. The answer is `refit_ann_index` below — a periodic
refit + reassign rewrite run as a reader-safe compaction step (not a
streaming step); the recall instrumentation to trigger it is
ann_recall_report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_brain_spark.streaming.generations import IndexStore

# The IVF index: vec_id-keyed rows (vec_id, embedding) under list_id hive
# partitions, so unprobed lists prune at planning time across every
# generation; a compacted generation keeps the list_id partitioning. A
# micro-batch per directory means file listing and footer reads
# eventually dominate the probe; after compaction each list has a few
# files per surviving generation instead of one per historical
# micro-batch. Search semantics are untouched: a search filters on list_id
# only, so "which batch a vector arrived in" never affects results.
IVF_INDEX = IndexStore(key="vec_id", partition_by="list_id")

# Compaction and takedown on the IVF index are its declaration's (reader-
# safe, tombstone-aware — streaming/generations.py): a deleted vector (a
# revoked document's embeddings, a user's right-to-be-forgotten request)
# leaves every search at once and the index bytes at the next compaction;
# a vector re-ingested after the floor is a fresh insert.
compact_ann_index = IVF_INDEX.compact
delete_vectors = IVF_INDEX.delete


def make_ann_ingest_batch_fn(index_dir: str, centroids: list[list[float]]):
    """Per-micro-batch body, exposed so replay behavior is directly
    testable: calling it twice with the same (batch_df, batch_id) must
    leave byte-identical index state (its own batch_id=N subdir is
    overwritten; nothing else is touched)."""
    from pdf_brain_spark.operators.clustering import _assign_udf

    assign = _assign_udf(centroids)

    def _each_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assigned = batch_df.withColumn("_a", assign(F.col("embedding"))).select(
            *batch_df.columns, F.col("_a.cluster_id").alias("list_id")
        )
        IVF_INDEX.write(spark, IVF_INDEX.listing(spark, index_dir), assigned, batch_id)

    return _each_batch


def streaming_ann_ingest(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_dir: str,
    centroids: list[list[float]],
    checkpoint_dir: str,
):
    """Drive the incremental ANN ingest as a Structured Streaming query
    (AvailableNow in tests/gate; continuous in production)."""
    from pdf_brain_spark.streaming.generations import run_foreach_batch

    return run_foreach_batch(
        vec_stream, make_ann_ingest_batch_fn(index_dir, centroids), checkpoint_dir
    )


def ivf_search_persisted(
    spark: SparkSession,
    index_dir: str,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 4,
) -> DataFrame:
    """IVF top-k against the PERSISTED streaming-maintained index: read
    the kept rows of the live generations — minus tombstoned vectors, so
    safe mid-compaction, after a compactor crash, and after deletions
    not yet materialized — as one partitioned table, prune to the probed
    lists (PartitionFilter on list_id across every batch_id subdir), and
    exact cosine re-rank inside: operators/ann.py::ivf_search over
    storage instead of an in-memory DataFrame."""
    from pdf_brain_spark.operators.ann import ivf_search

    indexed = IVF_INDEX.kept(spark, index_dir)
    return ivf_search(indexed, centroids, query_vec, k, n_probes, "embedding", "vec_id")


def write_index_centroids(spark: SparkSession, index_dir: str, centroids: list[list[float]]) -> None:
    """Persist the centroid matrix inside the index under `_centroids`
    (underscore-prefixed: Spark's file listing ignores it, so data reads
    never see it). Makes the index self-describing — search and ingest
    can recover the probe geometry without an out-of-band channel."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(rows, "list_id int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_dir}/_centroids")


def read_index_centroids(spark: SparkSession, index_dir: str) -> list[list[float]]:
    """Recover the persisted centroid matrix (write_index_centroids)."""
    rows = spark.read.parquet(f"{index_dir}/_centroids").orderBy("list_id").collect()
    return [[float(x) for x in r["centroid"]] for r in rows]


def refit_ann_index(
    spark: SparkSession,
    index_dir: str,
    upto_batch_id: int,
    n_lists: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    tol: float = 1e-6,
) -> tuple[list[list[float]], int]:
    """Periodic centroid refit — the compaction-step answer to the
    centroid-staleness caveat at the top of this module: fixed centroids
    keep every ingest batch map-only, but a drifting corpus concentrates
    new vectors into few stale lists and recall-at-probes decays. The
    refit is a LAYOUT REWRITE run through the reader-safe generation
    protocol: (1) fit fresh seeded centroids on a bounded sample of the
    full live index (the same deterministic k-means++/Lloyd's kernel as
    the batch fit — driver work is capped by KMEANS_FIT_SAMPLE_CAP
    regardless of index size); (2) one distributed pass re-assigns every
    vector map-only (Arrow/BLAS assigner, no shuffle) and rewrites the
    merged generations partitioned by the NEW list_id; (3) the rewrite
    lands through the one compaction commit (write → atomic rename →
    delete), so concurrent searches see the old or the new index, never a
    mixture. The new centroids are persisted under `_centroids` AFTER
    the swap; a searcher pairing old centroids with the new index (or
    vice versa) during that instant only mis-ranks which lists to probe
    — returned scores stay exact, recall dips for that one query, which
    is the same class of staleness the refit exists to fix.

    Operational contract: pass the FULL committed frontier as
    upto_batch_id. Generations above it — and batches a still-running
    ingest stream writes with its old closed-over centroid matrix —
    remain partitioned by the OLD geometry while `_centroids` already
    holds the new one. Searches stay CORRECT regardless (list membership
    only affects which candidates are probed; re-ranking is exact), but
    those vectors' probe recall follows the old centroids until the next
    refit sweeps them in — so restart the ingest stream with the new
    centroids after a refit rather than letting the mix accumulate.

    Returns (new_centroids, n_generations_rewritten). Unlike a
    compaction it rewrites a lone generation too; if nothing has arrived
    since the last rewrite at this coverage, returns the FITTED centroids
    with 0 rewritten (see generations.commit_compaction)."""
    from pdf_brain_spark.operators.clustering import (
        _assign_udf,
        _lloyd_fit,
        _sample_feature_matrix,
    )
    from pdf_brain_spark.streaming.generations import commit_compaction

    ls = IVF_INDEX.listing(spark, index_dir)
    if not ls.raw:
        return [], 0
    # fit on the KEPT rows — a refit must not learn centroid mass from
    # tombstoned (deleted) vectors
    X = _sample_feature_matrix(IVF_INDEX.rows(spark, ls).select("embedding"), "embedding", seed)
    if X.size == 0:
        raise ValueError(
            "refit_ann_index: no live (non-tombstoned) vectors to fit on — "
            "compact to materialize the deletions instead of refitting"
        )
    C = _lloyd_fit(X, n_lists, seed, max_iter, tol)
    centroids = [[float(x) for x in row] for row in C]
    assign = _assign_udf(centroids)

    def _write(tmp: str) -> None:
        s = IVF_INDEX.rows(spark, ls, upto_batch_id).drop("batch_id", "list_id")
        reassigned = s.withColumn("_a", assign(F.col("embedding"))).select(
            *s.columns, F.col("_a.cluster_id").alias("list_id")
        )
        reassigned.write.partitionBy("list_id").mode("overwrite").parquet(tmp)

    merged = commit_compaction(spark, ls, upto_batch_id, _write, min_sources=1)
    if merged:
        write_index_centroids(spark, index_dir, centroids)
    return centroids, merged
