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


def make_ann_ingest_batch_fn(index_dir: str, centroids: list[list[float]], vec_col: str = "embedding"):
    """Per-micro-batch body, exposed so replay behavior is directly
    testable: calling it twice with the same (batch_df, batch_id) must
    leave byte-identical index state (its own batch_id=N subdir is
    overwritten; nothing else is touched)."""
    from pdf_brain_spark.operators.clustering import _assign_udf

    assign = _assign_udf(centroids)

    def _each_batch(batch_df: DataFrame, batch_id: int) -> None:
        assigned = batch_df.withColumn("_a", assign(F.col(vec_col))).select(
            *batch_df.columns, F.col("_a.cluster_id").alias("list_id")
        )
        from pdf_brain_spark.streaming.generations import stamp_protocol

        stamp_protocol(batch_df.sparkSession, index_dir)
        assigned.write.partitionBy("list_id").mode("overwrite").parquet(
            f"{index_dir}/batch_id={batch_id}"
        )

    return _each_batch


def streaming_ann_ingest(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_dir: str,
    centroids: list[list[float]],
    checkpoint_dir: str,
    vec_col: str = "embedding",
):
    """Drive the incremental ANN ingest as a Structured Streaming query
    (AvailableNow in tests/gate; continuous in production)."""
    from pdf_brain_spark.streaming.generations import run_foreach_batch

    return run_foreach_batch(
        vec_stream, make_ann_ingest_batch_fn(index_dir, centroids, vec_col), checkpoint_dir
    )


def ivf_search_persisted(
    spark: SparkSession,
    index_dir: str,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k against the PERSISTED streaming-maintained index: read
    the accumulated batch generations as one partitioned table, prune to
    the probed lists (PartitionFilter on list_id across every batch_id
    subdir), exact cosine re-rank inside: operators/ann.py::ivf_search
    over storage instead of an in-memory DataFrame; the tie-break orders
    on `id_col`, whatever the persisted id column is named."""
    from pdf_brain_spark.operators.ann import ivf_search
    from pdf_brain_spark.streaming.generations import kept_index_rows

    # live generations minus tombstoned vectors (generation protocol):
    # safe to search mid-compaction, after a compactor crash, and after
    # deletions (delete_vectors) that have not yet been materialized
    indexed = kept_index_rows(spark, index_dir, [id_col])
    return ivf_search(indexed, centroids, query_vec, k, n_probes, vec_col, id_col)


def compact_ann_index(
    spark: SparkSession, index_dir: str, upto_batch_id: int, id_col: str = "vec_id"
) -> int:
    """Compact the streaming ANN index: merge every batch_id ≤
    upto_batch_id generation into one compacted generation (negative
    batch_id), PRESERVING the list_id partitioning (the
    rewrite is partitionBy("list_id"), so the consolidated generation
    still prunes probes at planning time). The continuous-crawl
    small-files answer for the vector side, mirroring
    streaming/events.py::compact_band_index: a micro-batch per directory
    means file listing and footer reads eventually dominate the probe;
    after compaction each list has O(n_files) files per surviving
    generation instead of one per historical micro-batch.

    Search semantics are untouched — ivf_search_persisted reads the live
    generations and filters on list_id only, so "which batch a vector
    arrived in" never affects results (asserted by the before/after
    equality test). READER-SAFE via the generation protocol
    (streaming/generations.py): the consolidated generation is written
    aside, renamed into a negative batch_id in one atomic directory
    move, and the superseded dirs deleted after — a concurrent searcher
    sees the pre- or post-compaction index, never a partial mixture.
    TOMBSTONE-AWARE: deletions (delete_vectors) with floor ≤
    upto_batch_id are materialized (the dead vectors physically leave
    the index) and their dirs retired. Only compact batches the
    stream's checkpoint has committed. Returns the number of
    generations (additive + tombstone) merged."""
    from pdf_brain_spark.streaming.generations import compact_index_rows

    def _write_kept(kept, tmp: str) -> None:
        kept.write.partitionBy("list_id").mode("overwrite").parquet(tmp)

    return compact_index_rows(
        spark, index_dir, upto_batch_id, [id_col], _write_kept
    )


def delete_vectors(
    spark: SparkSession,
    index_dir: str,
    vec_ids: DataFrame,
    floor_batch_id: int,
    id_col: str = "vec_id",
) -> None:
    """Delete vectors from the streaming ANN index — the governance
    operation (a revoked document's embeddings, a user's
    right-to-be-forgotten request) on an append-only store: a tombstone
    generation records the ids, every search immediately excludes them
    (kept_index_rows), and the next compaction materializes the removal
    so the bytes physically leave the index. A vector re-ingested in a
    batch AFTER the floor is a fresh insert and is served again."""
    from pdf_brain_spark.streaming.generations import write_tombstones

    write_tombstones(
        spark, index_dir, vec_ids.select(F.col(id_col).alias(id_col)), floor_batch_id
    )


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
    vec_col: str = "embedding",
    id_col: str = "vec_id",
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
    lands as a compacted generation via write → atomic rename → delete,
    so concurrent searches see the old or the new index, never a
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

    Returns (new_centroids, n_generations_rewritten). If nothing has
    arrived since the last rewrite at this coverage, returns the FITTED
    centroids with 0 rewritten (see generations.compact_index_rows)."""
    from pdf_brain_spark.operators.clustering import (
        _assign_udf,
        _lloyd_fit,
        _sample_feature_matrix,
    )
    from pdf_brain_spark.streaming.generations import (
        compact_index_rows,
        generation_ids,
        kept_index_rows,
    )

    if not generation_ids(spark, index_dir):
        return [], 0
    # fit on the KEPT rows — a refit must not learn centroid mass from
    # tombstoned (deleted) vectors
    src_all = kept_index_rows(spark, index_dir, [id_col])
    X = _sample_feature_matrix(src_all.select(vec_col), vec_col, seed)
    if X.size == 0:
        raise ValueError(
            "refit_ann_index: no live (non-tombstoned) vectors to fit on — "
            "compact to materialize the deletions instead of refitting"
        )
    C = _lloyd_fit(X, n_lists, seed, max_iter, tol)
    centroids = [[float(x) for x in row] for row in C]
    assign = _assign_udf(centroids)

    def _write_kept(kept, tmp: str) -> None:
        s = kept.drop("list_id")
        reassigned = s.withColumn("_a", assign(F.col(vec_col))).select(
            *s.columns, F.col("_a.cluster_id").alias("list_id")
        )
        reassigned.write.partitionBy("list_id").mode("overwrite").parquet(tmp)

    merged = compact_index_rows(
        spark, index_dir, upto_batch_id, [id_col], _write_kept, min_sources=1
    )
    if merged:
        write_index_centroids(spark, index_dir, centroids)
    return centroids, merged
