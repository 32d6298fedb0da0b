"""Structured Streaming extensions (SURVEY §2.10: the reference has no
streaming; these are flagged beyond-reference, built on the events table
shape). Two pipelines:

  * windowed_event_counts: readStream → watermark → tumbling window agg.
    The batch twin (queries.events_tumbling_window) is the oracle; the
    streaming test runs Trigger.AvailableNow over the same files and
    asserts equality — late rows beyond the watermark would be dropped in
    continuous mode.

  * streaming_ingest: file-source stream of document files → foreachBatch
    running the batch chunk/embed pipeline (operators/ingest.py). This is
    the reference's incremental `ingest` command (J7 dedup included) as a
    continuously-running job.

Beyond those, the ten mergeable-partials sketch stores (ROLLUP,
VALUE_HISTOGRAM, TERM_COUNTS, OHLC, KMV, REGRESSION, BITMAP, CMS, MINHASH,
NOVELTY) are each one `PartialsStore` declaration beside its read_X
finisher; streaming/generations.py owns their writer, stream driver,
backfill and compactor.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_brain_spark.streaming.generations import (
    IndexStore,
    PartialsStore,
    run_foreach_batch,
)


def read_events_stream(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    schema = schema or (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    return spark.readStream.schema(schema).parquet(path)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts with late-data bound. In append mode a window
    closes once the watermark passes; AvailableNow processing of a static
    directory yields the batch-equivalent result."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select("event_type", F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def run_available_now(stream_df: DataFrame, checkpoint_dir: str, out_dir: str) -> None:
    """Drain everything currently in the source (Trigger.AvailableNow),
    write parquet, stop. The batch-parity harness for streaming tests."""
    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()


SESSION_GAP_MINUTES = 30


def streaming_sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES):
    """Custom stateful streaming operator via applyInPandasWithState
    (SURVEY §2.11: the route for operators Spark lacks natively): per-user
    sessionization with explicit state.

    State per user = the currently-open session (start, last_ts, count).
    Each micro-batch sorts the user's new events, closes sessions whenever
    a gap ≥ gap_minutes is observed, EMITS the closed sessions, and parks
    the trailing open session back in state. On a bounded AvailableNow run
    the emitted set is therefore exactly 'every session except each user's
    last' — deterministic, so the batch lag-gap SQL minus last-session is
    its oracle. Scale: state is one tuple per active user, partitioned by
    the groupBy key; no executor holds more than its hash-share of users."""
    import pandas as pd

    gap_us = gap_minutes * 60 * 1_000_000

    def _sessionize(key, pdf_iter, state):
        rows = pd.concat(list(pdf_iter))
        if rows.empty:
            return
        rows = rows.sort_values("ts")
        ts_us = rows["ts"].astype("int64") // 1000  # datetime64[ns] → micros

        if state.exists:
            s_start, s_last, s_count = state.get
        else:
            s_start, s_last, s_count = None, None, 0

        out = []
        for t in ts_us:
            if s_start is None:
                s_start, s_last, s_count = int(t), int(t), 1
            elif t - s_last >= gap_us:
                out.append((key[0], s_start, s_last, s_count))
                s_start, s_last, s_count = int(t), int(t), 1
            else:
                s_last, s_count = int(t), s_count + 1
        state.update((s_start, s_last, s_count))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "session_start": pd.to_datetime([o[1] for o in out], unit="us"),
                    "session_end": pd.to_datetime([o[2] for o in out], unit="us"),
                    "n_events": [o[3] for o in out],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=(
                "user_id long, session_start timestamp, "
                "session_end timestamp, n_events long"
            ),
            stateStructType="session_start long, last_ts long, n_events long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_ingest(
    spark: SparkSession,
    watch_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    markdown: bool = False,
):
    """File-source stream → foreachBatch batch-ingest. Each micro-batch
    reuses the full batch pipeline, so dedup/id/chunk semantics are
    identical to one-shot ingest."""
    from pdf_brain_spark.operators.ingest import ingest

    files = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(watch_dir)
        .select(F.input_file_name().alias("path"), F.col("value").alias("content"))
    )

    def _each_batch(batch_df: DataFrame, batch_id: int) -> None:
        ingest(spark, batch_df, out_dir, markdown=markdown)

    return run_foreach_batch(files, _each_batch, checkpoint_dir)


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream
    broadcast-joins a STATIC dimension (user profile / segment table).
    This is the standard streaming enrichment shape — the static side is
    re-read per batch if its underlying files change, no state store is
    involved (unlike stream-stream joins), and with a broadcastable dim
    the per-batch plan is a map-side hash join: no shuffle of the stream.
    At 100 TB the dim is a compacted table maintained by the batch tier;
    left join keeps unmatched events (late dim arrival tolerated)."""
    return events.join(F.broadcast(dim), key, "left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: left events match right
    events of the same key whose timestamp falls within [left.ts,
    left.ts + within]. Both sides carry watermarks so the state store
    evicts rows once they can no longer match (state is bounded by
    watermark + join window, the only way a stream-stream join survives
    unbounded input). The time-bound predicate is what lets Spark derive
    the state cleanup condition — an unconstrained stream-stream join
    would keep both sides forever."""
    l = left.withWatermark("ts", left_watermark).alias("l")
    r = right.withWatermark("ts", right_watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND r.ts >= l.ts AND r.ts <= l.ts + interval {within}"
        ),
    ).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_event_id"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )


# The LSH band index of streaming_incremental_dedup: doc_id-keyed band rows,
# unpartitioned; a compacted generation is coalesced to at most 8 files. A
# continuous crawl accrues one small directory per micro-batch — at 100 TB
# the classic small-files problem (file listing and footer reads come to
# dominate the probe) — and compaction preserves every future batch's probe
# set exactly, because the compacted generation covers precisely the
# batches it replaced.
BAND_INDEX = IndexStore(key="doc_id", compact_files=8)


def make_incremental_dedup_batch_fn(
    spark: SparkSession, index_dir: str, candidates_dir: str
):
    """The per-micro-batch body of streaming_incremental_dedup, exposed so
    replay behavior is directly testable: calling it twice with the same
    (batch_df, batch_id) must produce byte-identical candidates/index
    state (tests/test_ingest_and_streaming.py)."""

    def _each_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pdf_brain_spark.operators.dedup import (
            incremental_lsh_candidates,
            minhash_banded_index,
        )
        from pdf_brain_spark.streaming.generations import coverage, stamp_protocol

        new_banded = minhash_banded_index(batch_df).localCheckpoint(eager=True)
        # Probe only band rows from STRICTLY EARLIER batches, resolved
        # through the generation protocol (streaming/generations.py): the
        # kept-rows selection excludes dirs superseded by a compacted
        # generation AND rows tombstoned by delete_documents, so the
        # probe is correct mid-compaction, after a compactor crash, and
        # after deletions. Coverage < batch_id keeps the replay
        # guarantee — on a replay of batch N after a crash between the
        # subdir write and the checkpoint commit, batch N's own
        # (possibly partial) rows are excluded, making the probe set
        # identical to the first attempt. Selecting explicit generation
        # dirs prunes at the driver, the same effect as the former
        # batch_id < N PartitionFilter.
        ls = BAND_INDEX.listing(spark, index_dir)
        if any(coverage(g) < batch_id for g in ls.live):
            index_banded = BAND_INDEX.rows(spark, ls, upto=batch_id - 1).drop("batch_id")
            cands = incremental_lsh_candidates(index_banded, new_banded)
        else:
            # first batch: no index yet — dedup within the batch only
            cands = incremental_lsh_candidates(new_banded.limit(0), new_banded)
        # Idempotent replay: each batch OVERWRITES its own batch_id=N
        # subdirectory, so re-running a micro-batch after a crash cannot
        # duplicate candidate pairs or band rows — the at-least-once
        # foreachBatch contract composes to effectively-once output
        # without a transactional table format.
        stamp_protocol(spark, candidates_dir)
        cands.write.mode("overwrite").parquet(
            f"{candidates_dir}/batch_id={batch_id}"
        )
        BAND_INDEX.write(spark, ls, new_banded, batch_id)

    return _each_batch


# Compaction and takedown on the band index are its declaration's (reader-
# safe, tombstone-aware — streaming/generations.py). A deleted document
# stops generating candidate pairs at once, and a document re-ingested after
# the floor is a fresh insert.
compact_band_index = BAND_INDEX.compact
delete_documents = BAND_INDEX.delete


def streaming_incremental_dedup(
    spark: SparkSession,
    new_docs_stream: DataFrame,
    index_dir: str,
    candidates_dir: str,
    checkpoint_dir: str,
):
    """Continuous-crawl dedup driver: a stream of arriving documents is
    deduplicated against the PERSISTED banded LSH index via foreachBatch —
    each micro-batch (1) bands its documents, (2) probes index ∪ batch for
    candidate pairs involving a batch document, (3) writes its candidates
    and bands under batch_id=N subdirectories so later batches dedup
    against the accumulated index. Per-batch work scales with the batch
    (operators/dedup.py::incremental_lsh_candidates); the index grows by
    exactly the batch's band rows — the streaming composition of the
    batch-gated dedup_incremental_minhash semantics.

    Replay-idempotent: each batch overwrites its own batch_id=N subdir and
    probes only batch_id < N, so a foreachBatch replay after a crash
    reproduces the first attempt exactly (see
    make_incremental_dedup_batch_fn). Consumers read candidates_dir as
    one partitioned table; a document re-delivered across batches can
    re-emit a pair under two batch_ids — distinct (doc_a, doc_b) on read
    if the upstream is at-least-once."""
    return run_foreach_batch(
        new_docs_stream,
        make_incremental_dedup_batch_fn(spark, index_dir, candidates_dir),
        checkpoint_dir,
    )


# ---------------------------------------------------------------------------
# Incremental hourly ROLLUP: each batch's partial is its own hourly
# (event_type, hour, n, cents) aggregate, persisted as PARTIALS; reading
# the rollup re-merges them (read_rollup), which is sound because count
# and sum are associative — the same "coarser tiers read finer partials,
# never facts" principle as tiered_time_rollup, extended in the time
# dimension: per-batch work is one aggregate over the BATCH, however large
# the rollup history grows. Late-arriving events simply contribute another
# partial for an old hour; no read-modify-write of existing buckets ever
# happens. Unlike the watermarked streaming_tumbling_window (which must
# decide when a window CLOSES to emit append-mode rows), the partials
# design needs no watermark at all for correctness — the right shape when
# the rollup must stay exactly consistent with whatever has arrived, and
# the window variant the right shape when bounded state and final-on-emit
# rows matter more.
# ---------------------------------------------------------------------------


def _rollup_partial(events: DataFrame, _batch_id: int) -> DataFrame:
    # Partials carry a CENT-SCALED INTEGER sum, not a float sum:
    # read_rollup re-sums partials in arbitrary order, and float
    # addition order across engines is exactly the 6-decimal
    # rounding-boundary flake class gapfill_locf already hit and
    # fixed (operators/temporal.py:392-399). Integer addition is
    # exact and associative, so the served total is bit-identical
    # however the generations merge; value is summed at 2-decimal
    # (cent) input precision.
    return events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("window_start")
    ).agg(
        F.count(F.lit(1)).alias("n_partial"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents_partial"),
    )


ROLLUP = PartialsStore(
    keys=("event_type", "window_start"),
    values=("n_partial", "sum_cents_partial"),
    partial=_rollup_partial,
)


def read_rollup(
    spark: SparkSession,
    rollup_dir: str,
    asof_batch_id: int | None = None,
    temporal: str = "coverage",
) -> DataFrame:
    """Serve the incremental rollup: re-aggregate the persisted partials
    across the LIVE batch generations (generation protocol — safe to
    read mid-compaction), honoring any BACKFILL generations
    (backfill_rollup): a backfilled bucket takes its corrected partials
    from the newest applicable backfill plus only the additive
    generations newer than that backfill's floor. |rows| = Σ per-batch
    distinct buckets — bucket grain × generation count, compacted by
    ROLLUP.compact when generations accumulate.

    `asof_batch_id` is TIME TRAVEL, in one of two temporalities served
    from the SAME store (the bitemporal pair, r8 — VERDICT r7 item 6):

      * temporal="coverage" (default): serve from exactly the
        generations and backfill floors covering ≤ N, in the store's
        CURRENT state. A backfill written LATER with floor ≤ N
        participates, so after a repair this is the CORRECTED history
        as of batch N — the audit view.
      * temporal="write": serve what batch N's READER actually saw —
        the reproduce-a-training-run's-input view. Resolved through the
        per-dir write-sequence markers (generations.record_wseq): the
        raw dir set is restricted to dirs recorded at or before batch
        N's own write, and the normal precedence/backfill selection
        runs on that subset, so a repair or compaction written after
        batch N is invisible exactly as it was to that reader.

    A compaction RETIRES the snapshots it merges in BOTH temporalities
    (coverage: below its coverage; write: before its write) — the
    documented retention trade of compacting; both raise a specific
    'retired' error rather than serving a wrong reconstruction."""
    if temporal not in ("coverage", "write"):
        raise ValueError(f"temporal must be 'coverage' or 'write', got {temporal!r}")
    if temporal == "write" and asof_batch_id is not None:
        from pdf_brain_spark.streaming.generations import list_store, write_seqs

        seqs = write_seqs(spark, list_store(spark, rollup_dir))
        name = f"batch_id={asof_batch_id}"
        if name not in seqs:
            raise ValueError(
                f"write-time snapshot at batch {asof_batch_id} is "
                "unavailable: its generation directory has no write-"
                "sequence marker (retired by compaction, or never written)."
            )
        kept = {"asof_wseq": seqs[name]}
    else:
        kept = {"upto": asof_batch_id}
    return ROLLUP.merged(spark, rollup_dir, **kept).select(
        "event_type",
        "window_start",
        F.col("n_partial").alias("n_events"),
        F.round(
            F.col("sum_cents_partial").cast("double") / F.lit(100.0), 4
        ).alias("total_value"),
    )


def backfill_rollup(
    spark: SparkSession,
    rollup_dir: str,
    corrected_events: DataFrame,
    floor_batch_id: int,
    buckets: DataFrame | None = None,
    overwrite: bool = False,
) -> None:
    """REPLACEMENT semantics on the append-only rollup store — the
    production repair the additive partials model cannot express: when a
    slice of history turns out to be WRONG (bad sensor, bug-era double
    counting), late additive partials can only add, never retract. A
    backfill generation carries the CORRECTED full partials for its
    buckets, recomputed from the corrected fact slice, and declares (via
    its floor) that for those buckets every additive generation covering
    <= floor is superseded; additive batches newer than the floor still
    apply on top, so the stream never pauses.

    Reader-safe by the same namespace precedence as compaction: the dir
    appears atomically (single overwrite into its own
    `backfill_floor=K` dir — idempotent on retry, like a micro-batch),
    readers either see it or not, and a later compaction materializes
    the resolution and retires the dir. Floor contract: must exceed the
    newest compacted coverage (otherwise the backfill would be dead on
    arrival), must only cover stream batches that are committed, and a
    floor can be used once (PartialsStore.backfill — pass
    overwrite=True only to retry the SAME logical repair after a crash).

    Replacement is row-presence-based, so a bucket the correction leaves
    EMPTY (every event of that hour was bogus) needs an explicit marker:
    pass `buckets` = the (event_type, window_start) frame of ALL buckets
    this repair covers, and absent buckets get a (0, 0) partial that
    supersedes their stale additive history; without it, only buckets
    with surviving corrected events are replaced."""
    store = ROLLUP
    if buckets is not None:

        def padded(events: DataFrame, batch_id: int) -> DataFrame:
            return (
                buckets.select(*ROLLUP.keys)
                .distinct()
                .join(_rollup_partial(events, batch_id), list(ROLLUP.keys), "left")
                .select(
                    *ROLLUP.keys,
                    *[
                        F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                        for c in ROLLUP.values
                    ],
                )
            )

        store = replace(ROLLUP, partial=padded)
    store.backfill(spark, rollup_dir, corrected_events, floor_batch_id, overwrite)


# ---------------------------------------------------------------------------
# Incremental PERCENTILES. Exact percentiles normally resist incrementality
# (they need the full sorted stream), but a fixed-resolution histogram is a
# mergeable sketch with a deterministic error contract: bucket `value` at
# CENT resolution (the same integer grain as the rollup/gap-fill sums) and
# per-batch partials (event_type, bucket, n) merge by integer addition — so
# any quantile of the CENT-ROUNDED distribution is served EXACTLY,
# incrementally, with no watermark and no read-modify-write, and the whole
# state is |types| × |distinct cents| rows. The t-digest idea with the
# approximation made exact by fixing the grid up front. A NULL value has
# no rank, so it enters no bucket (percentile_disc skips it too).
#
# Backfills replace at EVENT_TYPE grain (floor_keys), not cell grain: a
# correction moves events between value cells, and a cell-grain
# replacement would leave the vacated stale cells standing. So a
# histogram backfill's corrected facts must be each affected type's
# COMPLETE corrected history up to the floor — a value distribution
# cannot be patched from a sub-slice.
# ---------------------------------------------------------------------------


def _histogram_partial(events: DataFrame, _batch_id: int) -> DataFrame:
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


VALUE_HISTOGRAM = PartialsStore(
    keys=("event_type", "bucket"),
    values=("n",),
    partial=_histogram_partial,
    floor_keys=("event_type",),
)


def read_histogram_percentiles(
    spark: SparkSession, hist_dir: str, quantiles_pct: tuple[int, ...] = (50, 95, 99)
) -> DataFrame:
    """Serve exact cent-resolution percentiles from the persisted
    histogram partials (live generations — safe mid-compaction): merge
    partials by integer addition, cumulative-sum the buckets per type,
    and pick, for each quantile q%, the smallest bucket whose cumulative
    count reaches rank ceil(q·n/100) — the classic type-1 quantile, with
    the rank computed in INTEGER arithmetic ((q·n + 99) div 100) so no
    float ceil boundary can differ across engines. Backfill generations
    (VALUE_HISTOGRAM.backfill) are honored and mid-compaction reads are
    safe. Returns (event_type, quantile, value) with value =
    bucket/100."""
    from pyspark.sql.window import Window

    hist = VALUE_HISTOGRAM.merged(spark, hist_dir)
    w = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("c", F.sum("n").over(w))
    tot = hist.groupBy("event_type").agg(F.sum("n").alias("total"))
    qs = F.explode(
        F.array(*[F.lit(int(q)) for q in quantiles_pct])
    ).alias("q_pct")
    with_q = cum.join(tot, "event_type").select("*", qs)
    rank = F.floor((F.col("q_pct") * F.col("total") + F.lit(99)) / F.lit(100))
    return (
        with_q.filter(F.col("c") >= rank)
        .groupBy("event_type", "q_pct")
        .agg(F.min("bucket").alias("bucket"))
        .select(
            "event_type",
            (F.col("q_pct") / F.lit(100.0)).alias("quantile"),
            F.round(F.col("bucket").cast("double") / F.lit(100.0), 2).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming incremental TERM COUNTS (top-k heavy hitters): the corpus-
# vocabulary twin of the hourly rollup — per-batch (term, count) partials
# of the `text` column under the engine-wide whitespace tokenization
# (functions/text.py::tokenize). Counts are integers, so partials
# merge exactly and associatively whatever order generations land or
# compact in, and the served top-k is always exactly consistent with every
# document that has arrived (no sketch error: this is the EXACT heavy-
# hitter design — per-batch map-side combine keeps each generation at
# vocabulary grain, not token grain, which is the memory story a CMS
# would otherwise buy approximately). No watermark needed: late documents
# just land as one more partial generation.
# ---------------------------------------------------------------------------


def _term_counts_partial(docs: DataFrame, _batch_id: int) -> DataFrame:
    from pdf_brain_spark.functions.text import tokenize

    return (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_partial"))
    )


TERM_COUNTS = PartialsStore(
    keys=("term",), values=("n_partial",), partial=_term_counts_partial
)


def read_top_terms(spark: SparkSession, store_dir: str, k: int = 25) -> DataFrame:
    """Serve the exact top-k terms from the persisted partials (live
    generations, mid-compaction-safe): re-sum integer partials per term,
    TakeOrdered k by (n desc, term asc). The re-aggregate is one shuffle
    at vocabulary grain — independent of how many documents ever
    streamed in."""
    merged = TERM_COUNTS.merged(spark, store_dir).select(
        "term", F.col("n_partial").alias("n")
    )
    return merged.orderBy(F.col("n").desc(), F.col("term").asc()).limit(k)


# ---------------------------------------------------------------------------
# Streaming incremental FTS index: ONE row store on the generation protocol,
# the continuous-crawl answer for the TEXT-search side, completing the trio
# (band index for dedup, IVF index for vectors, postings for FTS). Each
# generation `batch_id=N` holds term_bucket hive partitions: the postings
# (doc_id, term, doc_len, tf) under buckets >= 0, and one doc-grain row per
# document (term NULL, tf 0) under FTS_DOC_BUCKET. New documents become
# searchable at the next micro-batch commit; corpus statistics (N, avgdl)
# read the doc-grain partition and df the probed postings, both from the
# same persisted generations at serve time, so served BM25 always reflects
# exactly the corpus indexed so far and postings and statistics can never
# disagree (the reference's single FTS5 table, kept in step by triggers).
# Being a row store keyed by doc_id, the index inherits the whole lifecycle:
# replay-idempotent batch overwrite, reader-safe compaction, and tombstone
# DELETION (a taken-down document vanishes from results and statistics
# immediately, and physically at the next compaction).
# ---------------------------------------------------------------------------


# Number of term-hash partitions per FTS generation. At this test scale 8
# keeps directory counts sane; at 100 TB the same layout runs at 256-1024
# buckets so one bucket's live postings stay executor-sized. The count is
# part of the STORE layout, not the query: it is in the name of the
# store's versioned layout marker, so a store laid out at another count
# (or under the earlier two-store layout, whose `_TERM_BUCKETS.<B>` marker
# carries no version) raises instead of being mis-probed.
FTS_TERM_BUCKETS = 8

# The hive partition of every FTS generation that holds its doc-grain rows
# (one per document: term NULL, tf 0, doc_len). portable_term_bucket is
# never negative, so no term probe reaches it; the corpus-stats arm filters
# on it and prunes to it.
FTS_DOC_BUCKET = -1


def _fts_one_generation_per_doc(spark: SparkSession, ls) -> None:
    """The FTS store's one invariant: no document is live in two
    generations. A generation holds one doc-grain row per document, so
    with one live generation it holds by construction and the check
    fires no job; otherwise it is the corpus-stats aggregate's max_gen."""
    if len(ls.live) > 1:
        if (_fts_stats(ls, FTS_INDEX.rows(spark, ls)).first()["max_gen"] or 0) > 1:
            raise ValueError(_FTS_DOUBLE_INGEST)


# The FTS index: doc_id-keyed rows under term_bucket hive partitions. The
# compacted generation KEEPS that partitioning: the store's dominant mass
# lives there, so preserving the layout is what makes a serve's probe prune
# at 100 TB (the IVF index's list_id play), and the repartition on
# term_bucket gives ~one file per bucket (the doc-grain partition
# included). Compaction first asserts the one-generation-per-doc invariant:
# it would otherwise fold a double-ingested doc's two generations into one,
# after which the serve's own check can no longer see the violation and
# BM25 silently double-counts tf.
FTS_INDEX = IndexStore(
    key="doc_id",
    partition_by="term_bucket",
    compact_files=8,
    layout=f"_FTS_LAYOUT_V2.TERM_BUCKETS_{FTS_TERM_BUCKETS}",
    check=_fts_one_generation_per_doc,
)


def make_fts_postings_batch_fn(index_dir: str):
    """Per-micro-batch index build (operators/fts.py::build_postings —
    tokenize once, (doc, term) aggregate with map-side combine, one
    doc-grain row per document), written by ONE partitioned overwrite
    of `batch_id=N`, so a replay is idempotent.

    TERM-PARTITIONED LAYOUT (the ANN index's list_id play carried to the
    text side): every generation lands as `batch_id=N/term_bucket=B`
    hive partitions with B = portable_term_bucket(term), so a serve's
    query-term filter is a PartitionFilter — unqueried buckets prune at
    planning time across the whole store, positive generations and
    compacted alike. The bucket hash is the repo's content-free portable
    md5 (replicable driver-side and in DuckDB), NOT xxhash64, so the
    serve can compute the probe set without a Spark job. The doc-grain
    rows land in `term_bucket=FTS_DOC_BUCKET`, which no term probes, and
    carry doc_len 0 for a zero-token document (empty/whitespace/NULL
    text): it has no postings, but the served N and avgdl must count it
    as the one-shot path does."""
    from pdf_brain_spark.operators.fts import build_postings

    def _each_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        postings = build_postings(batch_df).withColumn("term_bucket", _term_bucket_col("term"))
        FTS_INDEX.write(spark, FTS_INDEX.listing(spark, index_dir), postings, batch_id)

    return _each_batch


# Takedown on the FTS index: one tombstone generation of doc ids drops both
# a document's postings and its doc-grain stats row — it vanishes from
# results and statistics at once, and physically at the next compaction.
delete_fts_documents = FTS_INDEX.delete
compact_fts_index = FTS_INDEX.compact


def portable_term_bucket(term: str, n_buckets: int = FTS_TERM_BUCKETS) -> int:
    """Driver-side twin of _term_bucket_col: bucket = first 4 md5 hex
    digits mod n_buckets — the repo's engine-independent content hash
    (same construction as the split/AQP portable hashes), identical in
    python, Spark SQL, and DuckDB. Never negative: the doc-grain rows'
    FTS_DOC_BUCKET is out of every probe's reach."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:4], 16) % n_buckets


def _term_bucket_col(term_col: str, n_buckets: int = FTS_TERM_BUCKETS):
    """Spark expression computing portable_term_bucket(term), and
    FTS_DOC_BUCKET for a doc-grain row (term NULL)."""
    from pdf_brain_spark.functions.text import md5_long

    return F.when(F.col(term_col).isNull(), F.lit(FTS_DOC_BUCKET)).otherwise(
        md5_long(term_col, 4).cast("int") % F.lit(n_buckets)
    )


def streaming_fts_ingest(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
):
    """Drive incremental FTS index maintenance as a Structured Streaming
    query (AvailableNow in tests/gate; continuous in production)."""
    return run_foreach_batch(
        docs_stream, make_fts_postings_batch_fn(index_dir), checkpoint_dir
    )


def fts_assert_stores_consistent(spark: SparkSession, index_dir: str) -> None:
    """Raise by name when a document is live in two generations of the FTS
    store. Updates are tombstone-then-reinsert (delete_fts_documents,
    then ingest the new text in a later batch); a doc_id re-ingested
    WITHOUT a tombstone leaves two generations' postings live, and BM25
    would double-count its tf. compact_fts_index runs the same check
    before merging. The serve does not call it: the corpus-stats row's
    max_gen carries the same invariant."""
    _fts_one_generation_per_doc(spark, FTS_INDEX.listing(spark, index_dir))


_FTS_DOUBLE_INGEST = (
    "FTS index has documents with live postings in more than one "
    "generation — a doc_id was re-ingested without a tombstone. Updates "
    "must be tombstone-then-reinsert (delete_fts_documents, then ingest "
    "the new text); serving or compacting this state would double-count tf."
)


def _fts_stats(ls, rows: DataFrame) -> DataFrame:
    """(n, avgdl, max_gen) over the doc-grain rows of `rows`, the kept rows
    of listing `ls`."""
    dg = rows.filter(F.col("term_bucket") == FTS_DOC_BUCKET)
    # a generation holds one doc-grain row per doc (the batch writer groups
    # by doc, the compactor refuses a doc live in two generations), so a
    # doc's row count is its number of live generations, and with one live
    # generation no doc can be double-counted: the per-doc grouping and its
    # shuffle are needed only across generations
    if len(ls.live) == 1:
        return dg.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("doc_len").alias("avgdl"),
            F.lit(1).alias("max_gen"),
        )
    return (
        dg.groupBy("doc_id")
        .agg(
            F.first("doc_len").alias("doc_len"),
            F.count(F.lit(1)).alias("_ngen"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("doc_len").alias("avgdl"),
            F.max("_ngen").alias("max_gen"),
        )
    )


def fts_corpus_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Corpus statistics (N, avgdl) for BM25 serving, from the doc-grain
    partition (FTS_DOC_BUCKET) of the live generations ONLY — one row per
    live doc per generation, never the postings' term grain (pytest pins
    that every scan of this frame prunes to that partition). Also carries
    the one-live-generation-per-doc invariant (max_gen), so the serve's
    double-ingest assert costs a doc-grain aggregate."""
    ls = FTS_INDEX.listing(spark, index_dir)
    return _fts_stats(ls, FTS_INDEX.rows(spark, ls))


def fts_search_persisted(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """BM25 top-k served from the PERSISTED FTS index (live generations
    minus tombstoned documents — safe mid-compaction and after
    takedowns). Identical Okapi scoring to operators/fts.py::bm25_scores,
    so serving from the index reproduces the one-shot path over the same
    corpus exactly (pytest-pinned).

    UPDATE CONTRACT: a document UPDATE must be tombstone-then-reinsert
    (delete_fts_documents, then ingest the new text in a later batch) —
    the kept-rows selection then drops the stale generation's rows.
    Re-ingesting a doc_id WITHOUT a tombstone leaves both generations
    live, double-counting tf; the serve raises rather than serve
    silently-wrong scores.

    Plan shape: ONE listing of the store and ONE kept-rows read feed both
    arms. The build fires one action, the corpus-stats collect (N, avgdl
    and the uniqueness assert over the doc-grain partition; no postings
    term grain is scanned for stats). The assert stays a driver-side
    ValueError because it runs on that collected row. Per-term df is
    computed INSIDE the scoring plan, as a count over `term` on the
    probed postings: under the assert each doc has one live generation,
    and a generation holds one postings row per (doc, term), so the count
    is the number of live docs holding the term. The query-term filter
    prunes the postings scan to the queried terms — under the term_bucket
    layout it is a PartitionFilter, so unqueried buckets (and the
    doc-grain partition) prune at planning time. One bounded TakeOrdered
    ends the plan. A query none of whose terms occurs in the store
    returns no rows, as bm25_scores does."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.fts import BM25_B, BM25_K1

    ls = FTS_INDEX.listing(spark, index_dir)
    rows = FTS_INDEX.rows(spark, ls).drop("batch_id")
    terms = [t.lower() for t in query_terms]
    stats = _fts_stats(ls, rows).collect()[0]
    if stats["n"] and stats["max_gen"] > 1:
        raise ValueError(_FTS_DOUBLE_INGEST)
    if not stats["n"]:
        # every document tombstoned (a takedown-heavy index reaches this
        # state in normal operation): an empty result, not a crash
        return (
            rows.select("doc_id")
            .withColumn("bm25", F.lit(0.0))
            .withColumn("terms_matched", F.lit(0).cast("long"))
            .limit(0)
        )
    n_docs, avgdl = float(stats["n"]), float(stats["avgdl"])
    # the probe: term_bucket is a hive partition column on EVERY
    # generation (batch and compacted), so this isin is a PartitionFilter
    # — unqueried buckets are pruned at planning time (pytest-pinned in
    # tests/test_ingest_and_streaming.py); the residual term filter
    # selects within the probed buckets. The layout marker pins the
    # store's bucket count to FTS_TERM_BUCKETS.
    probe_buckets = sorted({portable_term_bucket(t) for t in terms})
    matched = rows.filter(
        F.col("term_bucket").isin(probe_buckets) & F.col("term").isin(terms)
    )
    doc_freq = F.count(F.lit(1)).over(Window.partitionBy("term")).cast("double")
    idf = F.log((F.lit(n_docs) - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)
    tf = F.col("tf").cast("double")
    term_score = idf * (tf * (BM25_K1 + 1)) / (
        tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("doc_len") / F.lit(avgdl))
    )
    return (
        matched.withColumn("_ts", term_score)
        .groupBy("doc_id")
        .agg(
            F.sum("_ts").alias("bm25"),
            F.count(F.lit(1)).alias("terms_matched"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Streaming incremental OHLC bars: the first NON-SUM instantiation of the
# mergeable-partials store — proof the generation protocol carries any
# commutative monoid, not just integer addition. Per-batch partials hold
# each bar's (open-ordering-struct, high, low, close-ordering-struct, n);
# open/close merge by min/max over (us, event_id, cents) structs, which is
# associative and exact, so partials from any number of batch generations
# (or a compaction of them) resolve to the identical bar the one-shot
# operator computes. Late data needs no watermark: a late event is one
# more partial row whose struct simply wins or loses the min/max. A
# backfill's corrected slice recomputes FULL partials for its bars, and
# later additive batches still merge on top via the same min/max monoid.
# ---------------------------------------------------------------------------


def _ohlc_partial(events: DataFrame, _batch_id: int) -> DataFrame:
    """Bar-grain OHLC partials from a raw event slice (stream and
    backfill alike). Cents + exact-microsecond ordering structs (the
    cross-engine integer discipline)."""
    cents = F.round(F.col("value") * 100).cast("long")
    ordc = F.struct(
        F.unix_micros(F.col("ts")).alias("us"),
        F.col("event_id").alias("eid"),
        cents.alias("c"),
    )
    return (
        events.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            ordc.alias("_ord"),
            cents.alias("_c"),
        )
        .groupBy("event_type", "window_start")
        .agg(
            F.min("_ord").alias("open_ord"),
            F.max("_c").alias("high_c"),
            F.min("_c").alias("low_c"),
            F.max("_ord").alias("close_ord"),
            F.count(F.lit(1)).alias("n_partial"),
        )
    )


OHLC = PartialsStore(
    keys=("event_type", "window_start"),
    values=("open_ord", "high_c", "low_c", "close_ord", "n_partial"),
    partial=_ohlc_partial,
    merge=("min(open_ord)", "max(high_c)", "min(low_c)", "max(close_ord)", "sum(n_partial)"),
)


def read_ohlc(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve the bars from the persisted partials (live generations,
    mid-compaction-safe): one re-merge at bar grain, then the money
    projection — identical output contract to operators/temporal.py::
    ohlc_bars over the same events."""
    money = lambda c: F.round(c.cast("double") / 100.0, 2)  # noqa: E731
    return OHLC.merged(spark, store_dir).select(
        "event_type",
        F.col("window_start").alias("bar_start"),
        money(F.col("open_ord.c")).alias("open"),
        money(F.col("high_c")).alias("high"),
        money(F.col("low_c")).alias("low"),
        money(F.col("close_ord.c")).alias("close"),
        F.col("n_partial").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Streaming incremental KMV distinct sketch: the third NON-SUM monoid on the
# mergeable-partials store (after OHLC's min/max structs) — and the first
# SET-VALUED one. Each batch's partial is, per event_type, the bottom-K
# sorted distinct portable hashes of user_id; partials merge by
# union-distinct-sort-truncate, which is associative, commutative, and
# idempotent (bottomK(bottomK(A)∪bottomK(B)) = bottomK(A∪B) because any
# hash evicted from a partial bottom-K is ≥ K survivors and can never
# re-enter the merged bottom-K). Distinct counts therefore maintain
# incrementally — the thing exact countDistinct fundamentally cannot do —
# with a deterministic, engine-portable estimate (see
# queries.kmv_distinct_estimate for the estimator's oracle-ability
# argument vs engine-private HLL). Per-batch work is one aggregate over
# the BATCH; the persisted state is K longs per (group, live generation).
# ---------------------------------------------------------------------------

KMV_K = 64
_KMV_M = 1152921504606846976.0  # 2^60: md5_long's hash-space size


def _kmv_partial(events: DataFrame, _batch_id: int) -> DataFrame:
    from pdf_brain_spark.functions.sql import Fragment
    from pdf_brain_spark.functions.text import md5_long

    return (
        events.select(
            "event_type", md5_long(Fragment("CAST(user_id AS STRING)")).alias("h")
        )
        .groupBy("event_type")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("hashes"))
    )


KMV = PartialsStore(
    keys=("event_type",),
    values=("hashes",),
    partial=_kmv_partial,
    merge=(f"slice(array_sort(array_distinct(flatten(collect_list(hashes)))), 1, {KMV_K})",),
)


def read_kmv(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve distinct-count estimates from the persisted sketch (live
    generations, mid-compaction-safe): one set-union re-merge per group,
    then the KMV estimator (k-1)/(h_k / 2^60) — identical formula and
    IEEE operations to the one-shot kmv_distinct_estimate, so a real
    streamed store reproduces the batch gate's numbers exactly."""
    merged = KMV.merged(spark, store_dir)
    n_in = F.size("hashes")
    h_k = F.element_at("hashes", n_in)
    est = F.when(n_in < KMV_K, n_in.cast("long")).otherwise(
        F.round(F.lit(float(KMV_K - 1)) * (F.lit(_KMV_M) / h_k)).cast("long")
    )
    return merged.select(
        "event_type",
        n_in.cast("long").alias("n_in_sketch"),
        est.alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
# Incremental OLS regression — the partials store's first MOMENT-VECTOR
# monoid. The five raw moments (n, Σx, Σy, Σxy, Σx²) are plain integer
# sums, so per-batch partials merge by elementwise addition — associative
# and commutative, and EXACT: x is the integer hour offset from a fixed
# anchor and y is integer cents, so however the stream (or a compaction)
# carved the data, the merged moments — and the slope/intercept derived
# from them by one final float expression — are bit-identical to a
# one-shot scan. Streaming model fitting without ever re-shuffling
# history: persisted state is 5 longs per (group, live generation).
# x anchors at 2024-01-01 UTC to keep n·Σx² far inside int64 (move to
# decimal(38) sums past ~1e9 rows/group at this grain).
# ---------------------------------------------------------------------------

REG_ANCHOR_US = 1_704_067_200_000_000  # epoch micros of 2024-01-01 UTC


def _regression_partial(events: DataFrame, _batch_id: int) -> DataFrame:
    x = F.expr(
        f"(unix_micros(cast(ts as timestamp)) - {REG_ANCHOR_US}) div 3600000000"
    ).cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    return (
        events.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
    )


REGRESSION = PartialsStore(
    keys=("event_type",),
    values=("n", "sx", "sy", "sxy", "sxx"),
    partial=_regression_partial,
)


def ols_num_den_exprs():
    """The OLS slope's raw numerator/denominator expressions over the
    exact integer moment columns (n, sx, sy, sxy, sxx) — shared by
    regression_fit_exprs AND consumers needing the UNROUNDED slope
    (retention_decay_fit's half-life), so the float op order lives in
    exactly one place."""
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return num, den


def regression_fit_exprs(
    slope_alias: str = "slope_cents_per_hour",
    intercept_alias: str = "intercept_cents",
):
    """slope/intercept column expressions from exact integer moment
    columns — ONE shared definition so the streaming serve, the batch
    oracle gate, and every other OLS consumer (zipf_fit_report,
    heaps_law_fit, retention_decay_fit) cannot drift (the KMV-constant
    lesson, pass 2 finding 2 of round 8's self-review). Final float
    math is two divisions and one multiply in a fixed order, rounded
    to 6dp."""
    num, den = ols_num_den_exprs()
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return F.round(slope, 6).alias(slope_alias), F.round(intercept, 6).alias(
        intercept_alias
    )


def read_regression(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve per-group OLS fits from the persisted moments (live
    generations, mid-compaction-safe): one integer re-merge per group,
    then the shared closed form."""
    slope, intercept = regression_fit_exprs()
    return REGRESSION.merged(spark, store_dir).select(
        "event_type", *REGRESSION.values, slope, intercept
    )


# ---------------------------------------------------------------------------
# Incremental EXACT distinct counting — the bitmap complement of the KMV
# sketch (approximate, bounded state) above: when the key domain is dense
# integers (user ids), a 64-bit word bitmap IS a mergeable monoid under
# bitwise OR — associative, commutative, idempotent — and serves the
# EXACT distinct count as Σ bit_count(word). Persisted state scales with
# occupied id-range/64 per group (roaring-style containerization is the
# 100 TB growth path; the word grain here is its dense container).
# Key k lives in word floor(k/64) at bit pmod(k, 64): floor, not
# truncating, division, so a negative id gets its own word instead of
# sharing bit 63 of word 0 with id 63. A NULL key is not a value and sets
# no bit.
# ---------------------------------------------------------------------------


def _bitmap_partial(events: DataFrame, _batch_id: int) -> DataFrame:
    return (
        events.filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.expr("(user_id - pmod(user_id, 64)) div 64").cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pmod(user_id, 64) as int))").alias("b"),
        )
        .groupBy("event_type", "word_idx")
        .agg(F.expr("bit_or(b)").cast("long").alias("bits"))
    )


BITMAP = PartialsStore(
    keys=("event_type", "word_idx"),
    values=("bits",),
    partial=_bitmap_partial,
    merge=("bit_or(bits)",),
)


def read_bitmap_distinct(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve EXACT per-group distinct counts from the persisted bitmap
    (live generations, mid-compaction-safe): one word-grain OR re-merge,
    then Σ bit_count."""
    return (
        BITMAP.merged(spark, store_dir)
        .groupBy("event_type")
        .agg(
            F.sum(F.bit_count("bits")).cast("long").alias("n_distinct"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental Count-Min Sketch — the bounded-state HEAVY-HITTER monoid
# (Cormode & Muthukrishnan 2005): per-batch (row, col, cnt) cell partials
# over the batch's token stream merge by plain integer addition
# (associative, commutative), the classic streaming frequency sketch whose
# estimate min_r cms[r][h_r(x)] is an upper bound on the true count with
# bounded overestimate. Because the cells are EXACT integer sums of a
# DETERMINISTIC hash placement, the merged sketch — unlike engine-private
# approx_count structs — is bit-identical to a one-shot build, so a SQL
# twin can replay it. Persisted state: ≤ CMS_ROWS × CMS_COLS longs per
# live generation, independent of corpus size — the property that matters
# at 100 TB. Exact top-k (TERM_COUNTS) keeps the true counts; CMS is the
# answer when even the term dictionary doesn't fit.
# ---------------------------------------------------------------------------

CMS_ROWS = 4
CMS_COLS = 512


def cms_col_expr(term_col: str, row_idx: int):
    """Portable CMS column index: md5_long(term '#' row) % CMS_COLS —
    the twin SQL is the same concat/substr/CAST chain every other
    portable-hash gate uses."""
    from pdf_brain_spark.functions.sql import Fragment, sql_ref
    from pdf_brain_spark.functions.text import md5_long

    return md5_long(Fragment(f"concat({sql_ref(term_col)}, '#{row_idx}')")) % CMS_COLS


def _cms_partial(docs: DataFrame, _batch_id: int) -> DataFrame:
    from pdf_brain_spark.functions.text import tokenize

    # ONE tokenize/explode pass: each term fans out to its CMS_ROWS cells
    # through a single array-of-structs explode, then one combinable
    # aggregate — not CMS_ROWS unioned re-scans of the batch
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row_idx"),
                cms_col_expr("term", r).alias("col_idx"),
            )
            for r in range(CMS_ROWS)
        ]
    )
    return (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .select(F.explode(cells).alias("cell"))
        .groupBy(
            F.col("cell.row_idx").alias("row_idx"),
            F.col("cell.col_idx").alias("col_idx"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


CMS = PartialsStore(keys=("row_idx", "col_idx"), values=("cnt",), partial=_cms_partial)


def read_cms_estimates(spark: SparkSession, store_dir: str, terms_df: DataFrame) -> DataFrame:
    """Serve CMS frequency estimates for the given (term) frame: re-merge
    live cell generations by integer sum, look up each term's CMS_ROWS
    cells, take the min. Work ∝ sketch size × live generations + the
    probe list — never the token stream."""
    cells = CMS.merged(spark, store_dir)
    probes = None
    for r in range(CMS_ROWS):
        p = terms_df.select(
            "term",
            F.lit(r).alias("row_idx"),
            cms_col_expr("term", r).alias("col_idx"),
        )
        probes = p if probes is None else probes.unionByName(p)
    return (
        probes.join(F.broadcast(cells), ["row_idx", "col_idx"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("cms_estimate"))
    )


# ---------------------------------------------------------------------------
# Incremental corpus MinHash signatures — the MIN-monoid (associative,
# commutative, idempotent: the lattice meet) on the partials store: each
# (source, hash-index) cell keeps the minimum portable hash over all
# 3-shingles of `text` seen, so per-batch partials merge by elementwise
# MIN and the streamed signature is bit-identical to a one-shot build
# regardless of batching — the corpus-level complement of the per-doc
# MinHash the dedup family uses, served as pairwise group-similarity
# estimates (matching-coordinate fraction estimates Jaccard; Broder 1997).
# Persisted state: MINHASH_SIG_K longs per (group, live generation).
# ---------------------------------------------------------------------------

MINHASH_SIG_K = 16


def _minhash_partial(docs: DataFrame, _batch_id: int) -> DataFrame:
    from pdf_brain_spark.functions.sql import Fragment
    from pdf_brain_spark.functions.text import md5_long, shingles, tokenize_sql

    sh = docs.select(
        F.col("source").alias("grp"),
        F.explode(shingles(tokenize_sql("text"), 3)).alias("shingle"),
    )
    ks = F.array(*[F.lit(k) for k in range(MINHASH_SIG_K)])
    return (
        sh.select("grp", "shingle", F.explode(ks).alias("k"))
        .select(
            "grp",
            "k",
            md5_long(Fragment("concat(CAST(k AS STRING), '#', shingle)")).alias("h"),
        )
        .groupBy("grp", "k")
        .agg(F.min("h").cast("long").alias("sig"))
    )


MINHASH = PartialsStore(
    keys=("grp", "k"), values=("sig",), partial=_minhash_partial, merge=("min(sig)",)
)


def read_minhash_similarity(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve pairwise group-Jaccard estimates from the persisted
    signatures: re-merge live generations by MIN, then count matching
    coordinates per pair. Work ∝ groups² × K — never the corpus."""
    merged = MINHASH.merged(spark, store_dir).localCheckpoint(
        eager=True
    )  # both pair arms reuse it
    a = merged.select(F.col("grp").alias("src_a"), "k", F.col("sig").alias("sig_a"))
    b = merged.select(
        F.col("grp").alias("src_b"), F.col("k").alias("kb"), F.col("sig").alias("sig_b")
    )
    return (
        a.join(b, (F.col("kb") == F.col("k")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.when(F.col("sig_a") == F.col("sig_b"), 1).otherwise(0))
            .cast("long")
            .alias("matches")
        )
        .withColumn(
            "jaccard_est_ppm",
            F.expr(f"(matches * 1000000) div {MINHASH_SIG_K}"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming incremental NOVELTY store (round 11): first-seen tracking for
# n-gram types across crawl increments. The partial is (ng, fb, fd) — the
# batch and min doc_id where the type first appeared IN THAT BATCH — and
# the merge monoid is min(struct(fb, fd)): associative, commutative, AND
# idempotent, so replays, re-batched streams, and compaction all serve the
# identical first-seen table. This is ngram_novelty_curve's question asked
# the streaming way: "how much of THIS increment is new text", answered
# per batch without ever re-scanning history (the one-shot gate re-reads
# the corpus; the store reads one increment + the type-grain partials).
# The only store whose partial reads its batch id.
# ---------------------------------------------------------------------------

NOVELTY_NGRAM_K = 4


def _novelty_partial(docs: DataFrame, batch_id: int) -> DataFrame:
    from pdf_brain_spark.functions.text import shingles, tokenize_sql

    return (
        docs.select(
            F.col("doc_id").alias("_id"),
            F.explode(shingles(tokenize_sql("text"), NOVELTY_NGRAM_K)).alias("ng"),
        )
        .groupBy("ng")
        .agg(F.min("_id").cast("long").alias("fd"))
        .select("ng", F.lit(int(batch_id)).cast("long").alias("fb"), "fd")
    )


NOVELTY = PartialsStore(
    keys=("ng",),
    values=("fb", "fd"),
    partial=_novelty_partial,
    merge=("min(struct(fb, fd)).fb", "min(struct(fb, fd)).fd"),
)


def read_novelty(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve the per-batch novelty report from the persisted store (live
    generations, mid-compaction-safe): merge first-seen per type with
    the store's own min-struct monoid, then one bounded per-batch
    rollup — (first_batch, n_new_types, share ppm of all types)."""
    per_batch = (
        NOVELTY.merged(spark, store_dir)
        .groupBy(F.col("fb").alias("first_batch"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_types"))
    )
    tot = per_batch.agg(F.sum("n_new_types").cast("long").alias("_t"))
    return (
        per_batch.crossJoin(F.broadcast(tot))  # broadcast 1-row total
        .select(
            "first_batch",
            "n_new_types",
            F.expr("(n_new_types * 1000000) div _t").alias("share_ppm"),
        )
        .orderBy("first_batch")
    )
