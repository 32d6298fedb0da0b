"""End-to-end ingest pipeline + streaming parity + multimodal plumbing."""

import pytest
from pyspark.sql import functions as F


def _live_dirs(spark, store):
    """Paths of a store's live generations."""
    from pdf_brain_spark.streaming.generations import list_store

    ls = list_store(spark, store)
    return ls.dirs(ls.live)


@pytest.fixture()
def file_df(spark):
    body_a = ("Sentence one about spark joins. " * 30).strip()
    body_b = "---\ntitle: Doc B\n---\n# Heading\n" + ("More content here with words. " * 30).strip()
    return spark.createDataFrame(
        [("/data/a.txt", body_a), ("/data/b.md", body_b)], "path string, content string"
    )


def test_ingest_end_to_end(spark, file_df, tmp_path):
    from pdf_brain_spark.operators.ingest import ingest

    out = str(tmp_path / "lib")
    counts = ingest(spark, file_df, out)
    assert counts["documents"] == 2
    assert counts["chunks"] >= 2
    assert counts["embeddings"] == counts["chunks"]

    chunks = spark.read.parquet(f"{out}/chunks")
    r = chunks.orderBy("chunk_id").first()
    # chunk id = {doc_id}-{i}, doc_id = sha12(path)
    assert len(r["chunk_id"].split("-")[0]) == 12
    emb = spark.read.parquet(f"{out}/embeddings")
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [x["d"] for x in dims] == [64]


def test_ingest_dedup_by_path(spark, file_df, tmp_path):
    from pdf_brain_spark.operators.ingest import build_documents, dedup_new_files

    existing = build_documents(file_df.limit(1))
    remaining = dedup_new_files(file_df, existing)
    assert remaining.count() == 1


def test_deterministic_embedding_stable():
    from pdf_brain_spark.operators.ingest import deterministic_embedding

    a = deterministic_embedding("hello world")
    b = deterministic_embedding("hello world")
    c = deterministic_embedding("other text")
    assert a.tolist() == b.tolist()
    assert a.tolist() != c.tolist()
    assert abs(sum(x * x for x in a.tolist()) - 1.0) < 1e-5


def test_streaming_window_matches_batch(spark, tmp_path):
    import shutil

    from pdf_brain_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        windowed_event_counts,
    )

    src = str(tmp_path / "src")
    # stage a copy of the sf0.001 events as the stream source (ts is nanos
    # in the original; rewrite through the loader to get proper timestamps)
    from pdf_brain_spark.sources.loaders import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    ev.write.parquet(src)

    stream = read_events_stream(spark, src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_available_now(windowed_event_counts(stream), ckpt, out)

    got = spark.read.parquet(out)
    want = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select("event_type", F.col("w.start").alias("window_start"), "n_events", "total_value")
    )
    # append mode emits only watermark-closed windows: everything emitted
    # must match batch, and the held-back remainder must all be open windows
    # (window end > max_ts - watermark)
    assert got.exceptAll(want).count() == 0
    max_ts = ev.select(F.max("ts")).collect()[0][0]
    missing = want.exceptAll(got).collect()
    import datetime

    horizon = max_ts - datetime.timedelta(hours=2)
    for r in missing:
        assert r["window_start"] + datetime.timedelta(hours=1) > horizon


def test_streaming_ingest_foreachbatch(spark, tmp_path):
    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "doc1.txt").write_text(("streamed document content with words. " * 20).strip())
    q = None
    try:
        from pdf_brain_spark.streaming.events import streaming_ingest

        q = streaming_ingest(
            spark, str(watch), str(tmp_path / "lib"), str(tmp_path / "ckpt2")
        )
        q.awaitTermination(60)
    finally:
        if q and q.isActive:
            q.stop()
    docs = spark.read.parquet(str(tmp_path / "lib" / "documents"))
    assert docs.count() == 1


def test_multimodal_image_features_plumbing(spark):
    from pdf_brain_spark.operators.multimodal import extract_image_features, frame_sample_plan

    media = spark.createDataFrame(
        [
            ("img1", "image", bytearray(b"\x10fakepng\x20"), ("image/png", 0, 0, 0, 0)),
            ("vid1", "video", bytearray(b"fakemp4"), ("video/mp4", 0, 0, 3500, 0)),
        ],
        "asset_id string, kind string, content binary, "
        "meta struct<mime string, width int, height int, duration_ms long, sample_rate int>",
    )
    feats = extract_image_features(media).collect()
    assert len(feats) == 1 and len(feats[0]["features"]) == 16
    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert [f["frame_ts_ms"] for f in frames] == [0, 1000, 2000, 3000]


def test_upsert_by_key(spark, tmp_path):
    from pdf_brain_spark.operators.ingest import upsert_by_key

    target = str(tmp_path / "docs")
    v1 = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "doc_id string, version int"
    )
    upsert_by_key(spark, v1, target, "doc_id")
    v2 = spark.createDataFrame([("b", 2), ("d", 2)], "doc_id string, version int")
    upsert_by_key(spark, v2, target, "doc_id")

    got = {r["doc_id"]: r["version"] for r in spark.read.parquet(target).collect()}
    # conflict key updated, new key inserted, untouched keys kept
    assert got == {"a": 1, "b": 2, "c": 1, "d": 2}


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static broadcast join: every micro-batch row is enriched
    from the static dim; unmatched keys keep NULL enrichment."""
    import pandas as pd

    from pdf_brain_spark.streaming.events import stream_static_enrich

    src = tmp_path / "stream_src"
    src.mkdir()
    pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "user_id": [10, 20, 99],
            "value": [1.0, 2.0, 3.0],
        }
    ).to_parquet(src / "part0.parquet")

    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, value double"
    ).parquet(str(src))
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "basic")], "user_id long, segment string"
    )
    enriched = stream_static_enrich(stream, dim)

    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.event_id: r.segment for r in spark.sql("select * from enriched_t").collect()}
    assert rows == {1: "gold", 2: "basic", 3: None}


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream join: clicks pair with views of the same
    user within 1 hour, out-of-window pairs excluded."""
    from datetime import datetime

    import pandas as pd

    from pdf_brain_spark.streaming.events import stream_stream_join

    t0 = datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return datetime(2024, 1, 1, 10, 0, 0).replace(minute=0) + pd.Timedelta(minutes=minutes)

    clicks_dir = tmp_path / "clicks"
    views_dir = tmp_path / "views"
    clicks_dir.mkdir()
    views_dir.mkdir()
    pd.DataFrame(
        {"event_id": [1, 2], "user_id": [7, 8], "ts": [t0, ts(30)]}
    ).to_parquet(clicks_dir / "p.parquet", coerce_timestamps="us", allow_truncated_timestamps=True)
    pd.DataFrame(
        # u7: one view 10 min after (match), one 3 h after (no match);
        # u8: view 20 min after its click (match)
        {"event_id": [11, 12, 13], "user_id": [7, 7, 8], "ts": [ts(10), ts(180), ts(50)]}
    ).to_parquet(views_dir / "p.parquet", coerce_timestamps="us", allow_truncated_timestamps=True)

    schema = "event_id bigint, user_id bigint, ts timestamp"
    clicks = spark.readStream.schema(schema).parquet(str(clicks_dir))
    views = spark.readStream.schema(schema).parquet(str(views_dir))
    joined = stream_stream_join(clicks, views, within="1 hour")

    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {
        (r.left_event_id, r.right_event_id)
        for r in spark.sql("select * from ssj_t").collect()
    }
    assert pairs == {(1, 11), (2, 13)}


def test_streaming_incremental_dedup_accumulates_full_pairset(spark, tmp_path):
    """Continuous-crawl dedup composition: documents arriving as separate
    micro-batches (maxFilesPerTrigger=1) through the foreachBatch
    probe-then-append driver must accumulate EXACTLY the candidate pairs
    the one-shot batch LSH computes on the full corpus — within-batch
    pairs from each batch's self-probe, cross-batch pairs from probing
    the accumulated index, nothing lost or duplicated, in any arrival
    order."""
    import random

    from pdf_brain_spark.operators.dedup import minhash_lsh_pairs
    from pdf_brain_spark.streaming.events import streaming_incremental_dedup

    rng = random.Random(77)
    vocab = [f"tok{i}" for i in range(3000)]
    rows = []
    for p in range(12):
        shared = " ".join(rng.choice(vocab) for _ in range(50))
        extra_a = " ".join(rng.choice(vocab) for _ in range(8))
        extra_b = " ".join(rng.choice(vocab) for _ in range(8))
        rows.append((2 * p, f"{shared} {extra_a}"))
        rows.append((2 * p + 1, f"{shared} {extra_b}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    watch = str(tmp_path / "arrivals")
    # two arrival files -> two micro-batches (near-dup pairs straddle both)
    docs.filter(F.col("doc_id") % 4 < 2).coalesce(1).write.mode("append").parquet(watch)
    docs.filter(F.col("doc_id") % 4 >= 2).coalesce(1).write.mode("append").parquet(watch)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    idx = str(tmp_path / "band_index")
    cands = str(tmp_path / "candidates")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_dedup(spark, stream, idx, cands, ckpt)
    q.awaitTermination()

    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(cands).collect()
    }
    want = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert got == want and want, f"streaming {len(got)} vs batch {len(want)}"


def test_streaming_incremental_dedup_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a crash between the batch's
    writes and the checkpoint commit, Spark re-invokes the batch function
    with the SAME (batch_df, batch_id). Because each batch overwrites its
    own batch_id=N subdir and probes only batch_id < N, the replay must
    leave the candidate set and the index byte-identical — no duplicated
    pairs, no duplicated band rows, even when the first attempt's own
    subdir is already on disk when the replay probes the index."""
    import random

    from pdf_brain_spark.streaming.events import make_incremental_dedup_batch_fn

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(2000)]
    rows = []
    for p in range(8):
        shared = " ".join(rng.choice(vocab) for _ in range(50))
        rows.append((2 * p, f"{shared} alpha beta gamma"))
        rows.append((2 * p + 1, f"{shared} delta epsilon zeta"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch0 = docs.filter(F.col("doc_id") % 4 < 2)
    batch1 = docs.filter(F.col("doc_id") % 4 >= 2)

    idx = str(tmp_path / "band_index")
    cands = str(tmp_path / "candidates")
    fn = make_incremental_dedup_batch_fn(spark, idx, cands)
    fn(batch0, 0)
    fn(batch1, 1)

    def snapshot():
        pairs = sorted(
            (r["batch_id"], r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(cands).collect()
        )
        index_rows = sorted(
            (r["batch_id"], r["doc_id"], r["band"], r["bucket"])
            for r in spark.read.parquet(idx).collect()
        )
        return pairs, index_rows

    before = snapshot()
    fn(batch1, 1)  # replay of the last micro-batch
    assert snapshot() == before
    fn(batch0, 0)  # replay of an EARLIER batch (checkpoint rollback shape)
    assert snapshot() == before
    assert before[0], "replay test needs a non-empty candidate set"


def test_compact_band_index_preserves_probe_semantics(spark, tmp_path):
    """Compaction merges committed batch_id subdirs into one consolidated
    directory keyed at the highest compacted id. A later batch's probe
    (batch_id < N) must see exactly the same band rows before and after —
    so the candidates it emits are identical — while the directory count
    (the small-files cost a continuous crawl accrues) drops to one."""
    import random

    from pdf_brain_spark.streaming.events import (
        compact_band_index,
        make_incremental_dedup_batch_fn,
    )

    rng = random.Random(99)
    vocab = [f"tok{i}" for i in range(2000)]
    rows = []
    # near-dup twins straddle the batch boundaries: doc p (arrives in
    # batch p//6) twins doc p+12 (batches 2-3), so the new batch's pairs
    # can ONLY be found through the persisted — then compacted — index
    for p in range(12):
        shared = " ".join(rng.choice(vocab) for _ in range(50))
        rows.append((p, f"{shared} one two three"))
        rows.append((p + 12, f"{shared} four five six"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    idx = str(tmp_path / "band_index")
    cands_a = str(tmp_path / "cands_uncompacted")
    cands_b = str(tmp_path / "cands_compacted")
    # three arrived batches (docs 0-17) build the index
    for b in range(3):
        make_incremental_dedup_batch_fn(spark, idx, cands_a)(
            docs.filter((F.col("doc_id") >= 6 * b) & (F.col("doc_id") < 6 * (b + 1))),
            b,
        )
    new_batch = docs.filter(F.col("doc_id") >= 18)

    # probe BEFORE compaction (scratch candidates dir, batch id 3)
    make_incremental_dedup_batch_fn(spark, idx, cands_a)(new_batch, 3)
    got_before = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(f"{cands_a}/batch_id=3").collect()
    }

    import os

    n_dirs_before = sum(d.startswith("batch_id=") for d in os.listdir(idx))
    merged = compact_band_index(spark, idx, upto_batch_id=2)
    assert merged == 3 and n_dirs_before == 4  # 0,1,2 merged; dir 3 untouched
    dirs_after = sorted(d for d in os.listdir(idx) if d.startswith("batch_id="))
    # compacted generation lands under the NEGATIVE id (generation
    # protocol: -3 replaces coverage <= 2, can't collide with future
    # stream batches); dir 3 untouched
    assert dirs_after == ["batch_id=-3", "batch_id=3"]

    # the same probe AFTER compaction emits the identical candidate set
    make_incremental_dedup_batch_fn(spark, idx, cands_b)(new_batch, 3)
    got_after = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(f"{cands_b}/batch_id=3").collect()
    }
    assert got_after == got_before and got_before


def test_streaming_ann_ingest_replay_idempotent_and_pruned(spark, tmp_path):
    """Incremental ANN index maintenance (streaming/ann_ingest.py):

    1. replay safety — re-invoking the batch fn with the same
       (batch_df, batch_id) leaves the index row-identical (its own
       batch_id=N subdir is overwritten, other generations untouched);
    2. losslessness — the union of batch generations holds every vector
       exactly once, each in exactly one list;
    3. pruning — the persisted search's scan reads only the probed
       list_id directories (PartitionFilters, checked in the plan).
    """
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.ann_ingest import (
        ivf_search_persisted,
        make_ann_ingest_batch_fn,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "label", "embedding"
    )
    _, centroids = kmeans_assign(emb, k=8, seed=42)
    idx = str(tmp_path / "ann_index")
    fn = make_ann_ingest_batch_fn(idx, centroids)
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    fn(b0, 0)
    fn(b1, 1)

    def snapshot():
        return sorted(
            (r["batch_id"], r["list_id"], r["vec_id"])
            for r in spark.read.option("basePath", idx).parquet(idx).collect()
        )

    before = snapshot()
    fn(b1, 1)  # crash-replay of the last batch
    assert snapshot() == before

    # losslessness: every vector exactly once, in exactly one list
    ids = [v for _, _, v in before]
    assert sorted(ids) == sorted(r["vec_id"] for r in emb.select("vec_id").collect())

    # pruning: the probe filter must appear as a PartitionFilter, and the
    # scanned row count must equal the probed lists' population
    qvec = [float(x) for x in emb.first()["embedding"]]
    res = ivf_search_persisted(spark, idx, centroids, qvec, k=5, n_probes=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters", 1)[1][:200]
    assert res.count() == 5

    # exhaustive probe == brute force (the gate invariant, small-scale)
    from pdf_brain_spark.operators.vector_search import topk

    exhaustive = [
        r["vec_id"]
        for r in ivf_search_persisted(spark, idx, centroids, qvec, k=7, n_probes=8).collect()
    ]
    brute = [r["vec_id"] for r in topk(emb, qvec, k=7).collect()]
    assert exhaustive == brute


def test_compact_ann_index_preserves_search(spark, tmp_path):
    """Merging committed batch generations must not change ANY search
    result (search filters on list_id only; arrival batch is storage
    bookkeeping), must keep list_id as a partition column in the
    consolidated generation (probes still prune), and must leave later
    uncompacted generations untouched."""
    import os

    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.ann_ingest import (
        compact_ann_index,
        ivf_search_persisted,
        make_ann_ingest_batch_fn,
    )

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "label", "embedding"
    )
    _, centroids = kmeans_assign(emb, k=8, seed=42)
    idx = str(tmp_path / "ann_index")
    fn = make_ann_ingest_batch_fn(idx, centroids)
    for i in range(3):
        fn(emb.filter(F.col("vec_id") % 3 == i), i)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 5).first()["embedding"]]

    def results(n_probes):
        return [
            (r["vec_id"], round(r["distance"], 9))
            for r in ivf_search_persisted(
                spark, idx, centroids, qvec, k=9, n_probes=n_probes
            ).collect()
        ]

    before_probed, before_exh = results(2), results(8)
    merged = compact_ann_index(spark, idx, upto_batch_id=1)  # batch 2 in flight
    assert merged == 2
    gens = sorted(d for d in os.listdir(idx) if d.startswith("batch_id="))
    assert gens == ["batch_id=-2", "batch_id=2"]
    # compacted generation keeps hive list_id subdirs (probe pruning)
    assert any(d.startswith("list_id=") for d in os.listdir(f"{idx}/batch_id=-2"))
    assert results(2) == before_probed
    assert results(8) == before_exh
    # the stream keeps appending after compaction; totals stay lossless
    fn(emb.filter(F.col("vec_id") % 3 == 0).withColumn("vec_id", F.col("vec_id") + 10000), 3)
    n = (
        spark.read.option("basePath", idx)
        .parquet(*_live_dirs(spark, idx))
        .count()
    )
    assert n == emb.count() + emb.filter(F.col("vec_id") % 3 == 0).count()


def test_incremental_rollup_replay_idempotent_and_late_data(spark, tmp_path):
    """Incremental rollup partials (streaming/events.py): replaying a
    micro-batch leaves the persisted partials row-identical; a late
    batch contributing to hours an earlier batch already covered merges
    losslessly (read_rollup == one-shot batch rollup); per-batch state
    is bucket-grain (each generation holds at most |buckets| rows, not
    |events|)."""
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import ROLLUP, read_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    roll = str(tmp_path / "rollup")
    fn = ROLLUP.batch_fn(roll)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)  # same hours: all late data
    fn(b0, 0)
    fn(b1, 1)

    def snapshot():
        return sorted(
            (r["batch_id"], r["event_type"], str(r["window_start"]), r["n_partial"], r["sum_cents_partial"])
            for r in spark.read.option("basePath", roll).parquet(roll).collect()
        )

    before = snapshot()
    fn(b1, 1)  # crash replay
    assert snapshot() == before

    served = {
        (r["event_type"], str(r["window_start"])): (r["n_events"], r["total_value"])
        for r in read_rollup(spark, roll).collect()
    }
    batch = {
        (r["event_type"], str(r["window_start"])): (r["n_events"], r["total_value"])
        for r in ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("window_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / F.lit(100.0),
                4,
            ).alias("total_value"),
        )
        .collect()
    }
    assert served == batch
    # bucket-grain state: each generation's rows <= distinct buckets
    n_buckets = len(batch)
    for bid in (0, 1):
        gen = spark.read.parquet(f"{roll}/batch_id={bid}").count()
        assert gen <= n_buckets


def test_generation_protocol_mid_compaction_reader_safety(spark, tmp_path):
    """The reader-safe compaction contract (streaming/generations.py):
    a reader that resolves generations through the protocol gets CORRECT
    results at every point of a compaction — including the window after
    the compacted generation is renamed in but before the superseded
    dirs are deleted (simulated here as a compactor crash: back up the
    old dirs, compact, restore them). Precedence must exclude the stale
    dirs; the next compaction sweep must garbage-collect them."""
    import shutil

    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import ROLLUP, read_rollup
    from pdf_brain_spark.streaming.generations import (
        list_store,
        live_generation_ids,
    )

    # unit-level precedence: -(m+1) replaces coverage <= m, including
    # older compacted generations; coverage 0 is representable (-1)
    assert live_generation_ids([0, 1, 2]) == [0, 1, 2]
    assert live_generation_ids([-1, 0, 1, 2]) == [-1, 1, 2]  # -1 covers only batch 0
    assert live_generation_ids([-2, 0, 1, 2]) == [-2, 2]
    assert live_generation_ids([-5, -8, 6, 7, 9]) == [-8, 9]  # -8 covers 0..7

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    roll = str(tmp_path / "rollup")
    fn = ROLLUP.batch_fn(roll)
    for b in range(3):
        fn(ev.filter(F.col("event_id") % 3 == b), b)

    def served():
        return sorted(
            (r["event_type"], str(r["window_start"]), r["n_events"], r["total_value"])
            for r in read_rollup(spark, roll).collect()
        )

    before = served()

    # crash-window superposition: compact 0..1, then RESTORE the
    # superseded dirs — exactly the state a reader sees between the
    # rename and the deletes (or after a compactor crash there)
    for b in (0, 1):
        shutil.copytree(f"{roll}/batch_id={b}", str(tmp_path / f"bak{b}"))
    assert ROLLUP.compact(spark, roll, upto_batch_id=1) == 2
    assert list_store(spark, roll).raw == [-2, 2]
    for b in (0, 1):
        shutil.copytree(str(tmp_path / f"bak{b}"), f"{roll}/batch_id={b}")
    assert list_store(spark, roll).raw == [-2, 0, 1, 2]  # raw listing: stale dirs present
    assert served() == before  # precedence hides them: no double counting

    # the next sweep garbage-collects the stale dirs without re-merging
    assert ROLLUP.compact(spark, roll, upto_batch_id=1) == 0
    assert list_store(spark, roll).raw == [-2, 2]
    assert served() == before

    # chained compaction over a compacted generation: -2 + 2 -> -3
    assert ROLLUP.compact(spark, roll, upto_batch_id=2) == 2
    assert list_store(spark, roll).raw == [-3]
    assert served() == before
    # compacted partials are bucket-grain: one row per (type, hour)
    n_rows = spark.read.parquet(f"{roll}/batch_id=-3").count()
    assert n_rows == len(before)


def test_refit_ann_index_recovers_recall_after_drift(spark, tmp_path):
    """Centroid-staleness repair (streaming/ann_ingest.py::
    refit_ann_index): centroids fit on the initial corpus, then a
    DRIFTED corpus (different cluster centers) streams in — recall at
    few probes degrades because the new mass straddles stale list
    boundaries. The refit (bounded-sample re-fit + map-only reassign
    rewrite through the reader-safe generation protocol) must recover
    recall, preserve every vector, and persist the new centroids."""
    from pdf_brain_spark.operators.ann import synthetic_clustered_embeddings
    from pdf_brain_spark.operators.clustering import _lloyd_fit, _sample_feature_matrix
    from pdf_brain_spark.streaming.ann_ingest import (
        ivf_search_persisted,
        make_ann_ingest_batch_fn,
        read_index_centroids,
        refit_ann_index,
    )
    from pdf_brain_spark.streaming.generations import list_store

    A = synthetic_clustered_embeddings(spark, n=2000, dim=32, n_centers=8, spread=0.12, seed=11)
    B = synthetic_clustered_embeddings(spark, n=2000, dim=32, n_centers=8, spread=0.12, seed=99)
    B = B.withColumn("vec_id", F.col("vec_id") + 10000)
    X = _sample_feature_matrix(A.select("embedding"), "embedding", 42)
    cents = [[float(x) for x in r] for r in _lloyd_fit(X, 16, 42, 20, 1e-6)]
    idx = str(tmp_path / "ann_index")
    fn = make_ann_ingest_batch_fn(idx, cents)
    fn(A, 0)
    fn(B, 1)  # drifted arrivals, assigned by the STALE centroids

    qids = [10005, 10123, 10456, 10789, 11000, 11222]
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in B.filter(F.col("vec_id").isin(qids)).collect()
    }

    def recall(cc, n_probes):
        tot = hit = 0
        for qv in qvecs.values():
            exact = {r["vec_id"] for r in ivf_search_persisted(spark, idx, cc, qv, k=10, n_probes=16).collect()}
            probed = {r["vec_id"] for r in ivf_search_persisted(spark, idx, cc, qv, k=10, n_probes=n_probes).collect()}
            tot += len(exact)
            hit += len(exact & probed)
        return hit / tot

    before = recall(cents, 2)
    new_cents, merged = refit_ann_index(spark, idx, upto_batch_id=1, n_lists=16, seed=42)
    assert merged == 2
    after = recall(new_cents, 2)
    # measured on this seeded fixture: 0.70 -> 0.98
    assert after > before and after >= 0.85
    # rewrite is lossless and lands as one compacted generation
    assert list_store(spark, idx).raw == [-2]
    n = spark.read.option("basePath", idx).parquet(*_live_dirs(spark, idx)).count()
    assert n == 4000
    # centroids persisted with the index, byte-equal round-trip
    assert read_index_centroids(spark, idx) == new_cents
    # re-refit with no new data: reader-safe in-place replacement is
    # impossible on a plain FS, so the protocol declines (0 rewritten)
    _, again = refit_ann_index(spark, idx, upto_batch_id=1, n_lists=16, seed=42)
    assert again == 0


def test_incremental_percentiles_replay_merge_compact(spark, tmp_path):
    """Histogram-sketch percentiles (streaming/events.py): replaying a
    micro-batch leaves the partials row-identical; partials from
    arrival batches merge to the one-shot batch answer; compaction
    preserves the served quantiles and shrinks state to bucket grain."""
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import (
        VALUE_HISTOGRAM,
        read_histogram_percentiles,
    )

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "value"
    )
    hist = str(tmp_path / "hist")
    fn = VALUE_HISTOGRAM.batch_fn(hist)
    for b in range(3):
        fn(ev.filter(F.col("event_id") % 3 == b), b)

    def snapshot():
        return sorted(
            (r["batch_id"], r["event_type"], r["bucket"], r["n"])
            for r in spark.read.option("basePath", hist).parquet(hist).collect()
        )

    before = snapshot()
    fn(ev.filter(F.col("event_id") % 3 == 1), 1)  # crash replay
    assert snapshot() == before

    def served():
        return sorted(
            (r["event_type"], r["quantile"], r["value"])
            for r in read_histogram_percentiles(spark, hist).collect()
        )

    got = served()
    # one-shot exact quantile of the cent-rounded values, type-1 rank
    import math

    rows = ev.select("event_type", F.round(F.col("value") * 100).cast("long").alias("b")).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["b"])
    want = []
    for t, bs in by_type.items():
        bs.sort()
        for q in (50, 95, 99):
            rank = (q * len(bs) + 99) // 100
            want.append((t, q / 100.0, round(bs[rank - 1] / 100.0, 2)))
    assert got == sorted(want)

    assert VALUE_HISTOGRAM.compact(spark, hist, upto_batch_id=2) == 3
    assert served() == got
    n_buckets = len({(t, b) for t, bs in by_type.items() for b in bs})
    assert spark.read.parquet(f"{hist}/batch_id=-3").count() == n_buckets


def test_rollup_backfill_replacement_semantics(spark, tmp_path):
    """Backfill = REPLACEMENT on the append-only rollup store
    (streaming/events.py::backfill_rollup): corrected partials for a
    bucket supersede every additive generation at or below the floor,
    later additive batches still apply on top, compaction materializes
    the resolution (via the same kept-rows selection the reader uses)
    and retires the backfill dir, and a resurrected dead backfill dir
    stays invisible (precedence)."""
    import shutil

    import pytest as _pytest

    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import ROLLUP, backfill_rollup, read_rollup
    from pdf_brain_spark.streaming.generations import list_store

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    roll = str(tmp_path / "rollup")
    fn = ROLLUP.batch_fn(roll)
    for b in range(3):
        fn(ev.filter(F.col("event_id") % 3 == b), b)

    def served():
        return {
            (r["event_type"], str(r["window_start"])): (r["n_events"], r["total_value"])
            for r in read_rollup(spark, roll).collect()
        }

    base = served()

    # the corrected slice: hour H re-measured, every value doubled
    h0 = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h")).first()["h"]
    in_h = F.date_trunc("hour", F.col("ts")) == F.lit(h0)
    corrected = ev.filter(in_h).withColumn("value", F.round(F.col("value") * 2, 2))
    backfill_rollup(spark, roll, corrected, floor_batch_id=2)

    want = dict(base)
    for r in (
        corrected.groupBy("event_type", F.date_trunc("hour", "ts").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0, 4
            ).alias("tv"),
        )
        .collect()
    ):
        want[(r["event_type"], str(r["w"]))] = (r["n"], r["tv"])
    got = served()
    assert got == want and got != base

    # a floor can be used once: a DIFFERENT repair at the same floor
    # must refuse (overwriting would revert the first correction) …
    with _pytest.raises(ValueError):
        backfill_rollup(spark, roll, corrected.limit(1), floor_batch_id=2)
    # … while an explicit overwrite=True retries the SAME logical repair
    # idempotently
    backfill_rollup(spark, roll, corrected, floor_batch_id=2, overwrite=True)
    assert served() == want

    # late additive data lands ON TOP of the correction
    late = ev.filter(in_h & (F.col("event_id") % 3 == 0))
    fn(late, 3)
    got2 = served()
    for r in (
        late.groupBy("event_type", F.date_trunc("hour", "ts").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
        .collect()
    ):
        k = (r["event_type"], str(r["w"]))
        n0, tv0 = want[k]
        assert got2[k] == (n0 + r["n"], round(tv0 + r["c"] / 100.0, 4))

    # compaction resolves floors with the reader's own selection
    shutil.copytree(f"{roll}/backfill_floor=2", str(tmp_path / "bak_fl"))
    assert ROLLUP.compact(spark, roll, upto_batch_id=3) == 5  # gens 0-3 + 1 backfill
    assert list_store(spark, roll).raw == [-4]
    assert list_store(spark, roll).floors == []
    assert served() == got2

    # a resurrected dead backfill dir (floor 2 <= compacted coverage 3)
    # is invisible to readers and swept by the next compaction pass
    shutil.copytree(str(tmp_path / "bak_fl"), f"{roll}/backfill_floor=2")
    assert served() == got2
    assert ROLLUP.compact(spark, roll, upto_batch_id=3) == 0
    assert list_store(spark, roll).floors == []

    # floor at or below the compaction frontier is refused
    with _pytest.raises(ValueError):
        backfill_rollup(spark, roll, corrected, floor_batch_id=3)


def test_histogram_backfill_type_grain_replacement(spark, tmp_path):
    """Histogram backfill replaces at EVENT_TYPE grain: a correction
    that MOVES events between value cells (every 'click' value doubled)
    must vacate the old cells — a cell-grain replacement would leave
    them standing. Untouched types keep their additive history; late
    additive batches apply on top; compaction materializes and
    retires."""
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import (
        VALUE_HISTOGRAM,
        read_histogram_percentiles,
    )
    from pdf_brain_spark.streaming.generations import list_store

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "value"
    )
    hist = str(tmp_path / "hist")
    fn = VALUE_HISTOGRAM.batch_fn(hist)
    for b in range(2):
        fn(ev.filter(F.col("event_id") % 2 == b), b)

    def served():
        return sorted(
            (r["event_type"], r["quantile"], r["value"])
            for r in read_histogram_percentiles(spark, hist).collect()
        )

    base = served()
    # corrected history for ONE type: all values doubled (cells move)
    corrected = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.round(F.col("value") * 2, 2)
    )
    VALUE_HISTOGRAM.backfill(spark, hist, corrected, floor_batch_id=1)
    got = served()
    # the corrected type serves the doubled distribution: p-values double
    base_click = {q: v for t, q, v in base if t == "click"}
    got_click = {q: v for t, q, v in got if t == "click"}
    for q, v in base_click.items():
        assert abs(got_click[q] - round(v * 2, 2)) < 1e-9
    # untouched types unchanged
    assert [x for x in got if x[0] != "click"] == [x for x in base if x[0] != "click"]

    # compaction materializes the per-type resolution, retires the dir
    n = VALUE_HISTOGRAM.compact(spark, hist, upto_batch_id=1)
    assert n == 3  # 2 additive gens + 1 backfill
    assert list_store(spark, hist).raw == [-2]
    assert list_store(spark, hist).floors == []
    assert served() == got


def test_index_deletion_tombstones(spark, tmp_path):
    """Deletion on the append-only indexes (generation-protocol
    tombstones): deleted vectors vanish from every search immediately,
    compaction materializes the removal and retires the tombstone dir,
    and a re-ingest after the floor is a fresh insert. Band-index side:
    a deleted document stops generating candidate pairs."""
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.ann_ingest import (
        IVF_INDEX,
        compact_ann_index,
        delete_vectors,
        ivf_search_persisted,
        make_ann_ingest_batch_fn,
    )
    from pdf_brain_spark.streaming.events import (
        delete_documents,
        make_incremental_dedup_batch_fn,
    )
    from pdf_brain_spark.streaming.generations import list_store

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "label", "embedding"
    )
    _, cents = kmeans_assign(emb, k=8, seed=42)
    idx = str(tmp_path / "ann")
    fn = make_ann_ingest_batch_fn(idx, cents)
    fn(emb.filter(F.col("vec_id") % 2 == 0), 0)
    fn(emb.filter(F.col("vec_id") % 2 == 1), 1)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 9).first()["embedding"]]
    dead = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    delete_vectors(spark, idx, dead, floor_batch_id=1)

    def topk():
        return [
            r["vec_id"]
            for r in ivf_search_persisted(spark, idx, cents, qvec, k=12, n_probes=8).collect()
        ]

    dead_ids = {r["vec_id"] for r in dead.collect()}
    got = topk()
    assert dead_ids.isdisjoint(got)
    # exhaustive search == brute force over the survivors
    from pdf_brain_spark.operators.vector_search import topk as brute_topk

    want = [
        r["vec_id"]
        for r in brute_topk(
            emb.filter(F.col("vec_id") % 7 != 3), qvec, k=12
        ).collect()
    ]
    assert got == want

    # compaction materializes: bytes gone, tombstone retired, search same
    n_alive = emb.count() - len(dead_ids)
    assert compact_ann_index(spark, idx, upto_batch_id=1) == 3  # 2 gens + 1 tombstone
    assert list_store(spark, idx).raw == [-2] and list_store(spark, idx).floors == []
    assert IVF_INDEX.kept(spark, idx).count() == n_alive
    assert topk() == want

    # re-ingest one deleted vector AFTER the floor: fresh insert, served
    revived = emb.filter(F.col("vec_id") == sorted(dead_ids)[0])
    fn(revived, 2)
    assert sorted(dead_ids)[0] in {
        r["vec_id"]
        for r in IVF_INDEX.kept(spark, idx).collect()
    }

    # band-index side: a deleted doc stops generating candidate pairs
    shared = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, shared + " one"), (2, "completely different words here " * 10)],
        "doc_id long, text string",
    )
    bidx = str(tmp_path / "band")
    cands = str(tmp_path / "cands")
    bfn = make_incremental_dedup_batch_fn(spark, bidx, cands)
    bfn(docs, 0)
    twin = spark.createDataFrame([(3, shared + " two")], "doc_id long, text string")
    bfn(twin, 1)  # twin of doc 1 -> pair (1, 3)
    pairs = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(f"{cands}/batch_id=1").collect()}
    assert (1, 3) in pairs
    delete_documents(spark, bidx, docs.filter(F.col("doc_id") == 1).select("doc_id"), 1)
    twin2 = spark.createDataFrame([(4, shared + " three")], "doc_id long, text string")
    bfn(twin2, 2)  # probes the index: doc 1 is deleted, doc 3 remains
    pairs2 = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(f"{cands}/batch_id=2").collect()}
    assert (3, 4) in pairs2 and not any(1 in p for p in pairs2)


def test_rollup_backfill_empty_bucket_marker(spark, tmp_path):
    """A bucket the correction leaves EMPTY (every event of that hour
    was bogus) needs the explicit bucket spine: with `buckets` passed,
    the vacated hour serves (0, 0.0); without it, replacement is
    row-presence-based and the stale totals would survive."""
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import ROLLUP, backfill_rollup, read_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    roll = str(tmp_path / "rollup")
    ROLLUP.batch_fn(roll)(ev, 0)

    h0 = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h")).first()["h"]
    in_h = F.date_trunc("hour", F.col("ts")) == F.lit(h0)
    # every event of hour h0 was bogus: corrected slice is EMPTY there
    spine = ev.filter(in_h).select(
        "event_type", F.date_trunc("hour", "ts").alias("window_start")
    )
    backfill_rollup(
        spark, roll, ev.filter(in_h).limit(0), floor_batch_id=0, buckets=spine
    )
    got = {
        (r["event_type"], str(r["window_start"])): (r["n_events"], r["total_value"])
        for r in read_rollup(spark, roll).collect()
    }
    for r in spine.distinct().collect():
        assert got[(r["event_type"], str(r["window_start"]))] == (0, 0.0)


def test_tombstone_same_floor_accumulates(spark, tmp_path):
    """Two delete calls at the SAME floor must both stick (the earlier
    keys must not be resurrected by the later call) — tombstone dirs
    accumulate as a set and union on read."""
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.ann_ingest import (
        IVF_INDEX,
        delete_vectors,
        make_ann_ingest_batch_fn,
    )
    from pdf_brain_spark.streaming.generations import list_store

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "embedding"
    )
    _, cents = kmeans_assign(emb, k=8, seed=42)
    idx = str(tmp_path / "ann")
    make_ann_ingest_batch_fn(idx, cents)(emb, 0)

    a = emb.filter(F.col("vec_id") < 5).select("vec_id")
    b = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10)).select("vec_id")
    delete_vectors(spark, idx, a, floor_batch_id=0)
    delete_vectors(spark, idx, b, floor_batch_id=0)  # same floor, new dir
    assert list_store(spark, idx).floors == [0]
    alive = {r["vec_id"] for r in IVF_INDEX.kept(spark, idx).collect()}
    assert alive.isdisjoint(set(range(10)))
    assert len(alive) == emb.count() - 10


def test_coverage_zero_compaction_and_refit(spark, tmp_path):
    """Coverage-0 regression (the -(m+1) encoding): a compaction whose
    entire coverage is batch 0 must be representable. Under the former
    -m encoding it would target `batch_id=-0` == the live `batch_id=0`
    dir itself — the rename landed nowhere and the consumed tombstone
    dirs were deleted anyway, resurrecting deleted keys. Now:

    1. batch 0 + a tombstone at floor 0 compact to `batch_id=-1`, the
       deletion is materialized, and the tombstone dir is retired;
    2. refit_ann_index on a lone positive batch 0 REWRITES (it used to
       silently no-op via the [-0]==[0] lone-compacted-gen check);
    3. the same floor-0 shape works on the partials store.
    """
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.ann_ingest import (
        IVF_INDEX,
        compact_ann_index,
        delete_vectors,
        make_ann_ingest_batch_fn,
        refit_ann_index,
    )
    from pdf_brain_spark.streaming.generations import list_store

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id", "embedding"
    )
    _, cents = kmeans_assign(emb, k=8, seed=42)
    idx = str(tmp_path / "ann")
    make_ann_ingest_batch_fn(idx, cents)(emb, 0)
    dead = emb.filter(F.col("vec_id") % 11 == 0).select("vec_id")
    n_dead = dead.count()
    delete_vectors(spark, idx, dead, floor_batch_id=0)

    # (1) lone batch 0 + floor-0 tombstone: compacts to -1, materialized
    assert compact_ann_index(spark, idx, upto_batch_id=0) == 2
    assert list_store(spark, idx).raw == [-1]
    assert list_store(spark, idx).floors == []
    alive = {r["vec_id"] for r in IVF_INDEX.kept(spark, idx).collect()}
    assert len(alive) == emb.count() - n_dead
    assert not any(v % 11 == 0 for v in alive)

    # (2) refit on a lone positive batch 0 rewrites instead of no-opping
    idx2 = str(tmp_path / "ann2")
    make_ann_ingest_batch_fn(idx2, cents)(emb, 0)
    _, merged = refit_ann_index(spark, idx2, upto_batch_id=0, n_lists=8, seed=42)
    assert merged == 1
    assert list_store(spark, idx2).raw == [-1]
    assert IVF_INDEX.kept(spark, idx2).count() == emb.count()

    # (3) partials store: batch 0 + a floor-0 backfill compact to -1
    from pdf_brain_spark.streaming.events import ROLLUP, backfill_rollup, read_rollup
    from pdf_brain_spark.streaming.generations import list_store

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    roll = str(tmp_path / "rollup")
    ROLLUP.batch_fn(roll)(ev, 0)
    h0 = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h")).first()["h"]
    corrected = ev.filter(F.date_trunc("hour", F.col("ts")) == F.lit(h0)).withColumn(
        "value", F.round(F.col("value") * 2, 2)
    )
    backfill_rollup(spark, roll, corrected, floor_batch_id=0)
    want = sorted(
        (r["event_type"], str(r["window_start"]), r["n_events"], r["total_value"])
        for r in read_rollup(spark, roll).collect()
    )
    assert ROLLUP.compact(spark, roll, upto_batch_id=0) == 2
    assert list_store(spark, roll).raw == [-1]
    assert list_store(spark, roll).floors == []
    got = sorted(
        (r["event_type"], str(r["window_start"]), r["n_events"], r["total_value"])
        for r in read_rollup(spark, roll).collect()
    )
    assert got == want


def test_streaming_fts_index_matches_oneshot_and_deletes(spark, tmp_path):
    """Incremental FTS postings index: served BM25 equals the one-shot
    bm25_scores over the same corpus (6-dp), replay is idempotent, a
    tombstoned document vanishes from results and compaction
    materializes the removal with results unchanged."""
    from pdf_brain_spark.operators.fts import bm25_scores
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import (
        compact_fts_index,
        delete_fts_documents,
        fts_search_persisted,
        make_fts_postings_batch_fn,
    )
    from pdf_brain_spark.streaming.generations import list_store

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "fts")
    fn = make_fts_postings_batch_fn(idx)
    fn(docs.filter(F.col("doc_id") % 2 == 0), 0)
    fn(docs.filter(F.col("doc_id") % 2 == 1), 1)

    def snapshot():
        return sorted(
            (r["batch_id"], r["doc_id"], r["term_bucket"], r["term"], r["tf"])
            for r in spark.read.option("basePath", idx).parquet(idx).collect()
        )

    before = snapshot()
    fn(docs.filter(F.col("doc_id") % 2 == 1), 1)  # crash replay
    assert snapshot() == before

    terms = ["spark", "shuffle", "join"]

    def served():
        return [
            (r["doc_id"], round(r["bm25"], 6), r["terms_matched"])
            for r in fts_search_persisted(spark, idx, terms, k=10).collect()
        ]

    oneshot = [
        (r["doc_id"], round(r["bm25"], 6), r["terms_matched"])
        for r in bm25_scores(docs, terms, k=10).collect()
    ]
    got = served()
    assert got == oneshot and got

    # takedown: tombstone the current top doc -> it vanishes; BM25 of
    # the others shifts because N/avgdl/df now exclude it (recomputed
    # from the index, which is the point)
    top_doc = got[0][0]
    dead = spark.createDataFrame([(top_doc,)], "doc_id long")
    delete_fts_documents(spark, idx, dead, 1)
    after = served()
    assert all(d != top_doc for d, _, _ in after)
    survivors = docs.filter(F.col("doc_id") != top_doc)
    want_after = [
        (r["doc_id"], round(r["bm25"], 6), r["terms_matched"])
        for r in bm25_scores(survivors, terms, k=10).collect()
    ]
    assert after == want_after

    # compaction materializes the deletion, serving unchanged
    assert compact_fts_index(spark, idx, upto_batch_id=1) == 3
    assert list_store(spark, idx).raw == [-2] and list_store(spark, idx).floors == []
    assert served() == want_after


def test_streaming_fts_zero_token_docs_and_all_tombstoned(spark, tmp_path):
    """Corpus-stat parity when zero-token documents exist (they carry no
    postings but MUST count in N/avgdl, as the one-shot path counts
    them), and graceful empty serving when every doc is tombstoned."""
    from pdf_brain_spark.operators.fts import bm25_scores
    from pdf_brain_spark.streaming.events import (
        delete_fts_documents,
        fts_search_persisted,
        make_fts_postings_batch_fn,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark joins and spark shuffles"),
            (2, "unrelated words entirely"),
            (3, "   "),          # whitespace-only: zero tokens
            (4, "spark spark spark again"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "fts")
    make_fts_postings_batch_fn(idx)(docs, 0)
    got = [
        (r["doc_id"], round(r["bm25"], 6), r["terms_matched"])
        for r in fts_search_persisted(spark, idx, ["spark"], k=10).collect()
    ]
    want = [
        (r["doc_id"], round(r["bm25"], 6), r["terms_matched"])
        for r in bm25_scores(docs, ["spark"], k=10).collect()
    ]
    assert got == want and got  # N=4 / avgdl includes doc 3 on both paths

    # takedown of EVERY doc: empty result, not a crash
    delete_fts_documents(spark, idx, docs.select("doc_id"), 0)
    assert fts_search_persisted(spark, idx, ["spark"], k=10).count() == 0


def test_streaming_ohlc_replay_merge_compact(spark, tmp_path):
    """Non-sum monoid on the partials store: replay leaves partials
    identical, bars served across batch generations equal the one-shot
    operator, and compaction with the min/max merge preserves serving
    (merge associativity exercised through a real consolidation)."""
    from pdf_brain_spark.operators.temporal import ohlc_bars
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import OHLC, read_ohlc
    from pdf_brain_spark.streaming.generations import list_store
    from pdf_brain_spark.sources.loaders import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    store = str(tmp_path / "ohlc")
    fn = OHLC.batch_fn(store)
    for b in range(3):
        fn(ev.filter(F.col("event_id") % 3 == b), b)

    def snapshot():
        return sorted(
            (r["batch_id"], r["event_type"], str(r["window_start"]), r["n_partial"])
            for r in spark.read.option("basePath", store).parquet(store).collect()
        )

    before = snapshot()
    fn(ev.filter(F.col("event_id") % 3 == 1), 1)  # crash replay
    assert snapshot() == before

    def served():
        return sorted(
            (r["event_type"], str(r["bar_start"]), r["open"], r["high"], r["low"], r["close"], r["n_events"])
            for r in read_ohlc(spark, store).collect()
        )

    want = sorted(
        (r["event_type"], str(r["bar_start"]), r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in ohlc_bars(ev, bucket="hour").collect()
    )
    assert served() == want

    # compaction with the min/max monoid: bar-grain state, serving fixed
    assert OHLC.compact(spark, store, upto_batch_id=2) == 3
    assert list_store(spark, store).raw == [-3]
    assert served() == want
    n_bars = len(want)
    assert spark.read.parquet(f"{store}/batch_id=-3").count() == n_bars


def test_rollup_time_travel_snapshots(spark, tmp_path):
    """asof_batch_id reads reproduce each committed snapshot exactly;
    compaction retires the snapshots it merges (documented retention
    trade) while the latest state keeps serving."""
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import ROLLUP, read_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    roll = str(tmp_path / "rollup")
    fn = ROLLUP.batch_fn(roll)
    for b in range(3):
        fn(ev.filter(F.col("event_id") % 3 == b), b)

    def served(asof=None):
        return sorted(
            (r["event_type"], str(r["window_start"]), r["n_events"], r["total_value"])
            for r in read_rollup(spark, roll, asof_batch_id=asof).collect()
        )

    def oneshot(pred):
        return sorted(
            (r["event_type"], str(r["w"]), r["n"], r["tv"])
            for r in ev.filter(pred)
            .groupBy("event_type", F.date_trunc("hour", "ts").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                    / F.lit(100.0),
                    4,
                ).alias("tv"),
            )
            .collect()
        )

    assert served(asof=0) == oneshot(F.col("event_id") % 3 == 0)
    assert served(asof=1) == oneshot(F.col("event_id") % 3 <= 1)
    assert served(asof=2) == served() == oneshot(F.lit(True))

    # compaction up to batch 1 retires snapshots 0 and 1; snapshot 1
    # remains reachable AT the compacted coverage, snapshot 0 is gone
    assert ROLLUP.compact(spark, roll, upto_batch_id=1) == 2
    assert served(asof=1) == oneshot(F.col("event_id") % 3 <= 1)
    assert served() == oneshot(F.lit(True))


def test_ohlc_backfill_replacement_monoid(spark, tmp_path):
    """Backfill on the non-sum store: a corrected hour's bars supersede
    additive history, untouched bars keep it, and monoid compaction
    materializes the resolution."""
    from pdf_brain_spark.operators.temporal import ohlc_bars
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import OHLC, read_ohlc
    from pdf_brain_spark.streaming.generations import list_store

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    store = str(tmp_path / "ohlc")
    fn = OHLC.batch_fn(store)
    fn(ev.filter(F.col("event_id") % 2 == 0), 0)
    fn(ev.filter(F.col("event_id") % 2 == 1), 1)

    h0 = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h")).first()["h"]
    in_h = F.date_trunc("hour", F.col("ts")) == F.lit(h0)
    corrected = ev.filter(in_h).withColumn("value", F.round(F.col("value") * 3, 2))
    OHLC.backfill(spark, store, corrected, floor_batch_id=1)

    def served():
        return {
            (r["event_type"], str(r["bar_start"])): (
                r["open"], r["high"], r["low"], r["close"], r["n_events"]
            )
            for r in read_ohlc(spark, store).collect()
        }

    # expected: corrected events replace hour h0; everything else as-is
    want_df = ev.filter(~in_h).unionByName(corrected)
    want = {
        (r["event_type"], str(r["bar_start"])): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in ohlc_bars(want_df, bucket="hour").collect()
    }
    got = served()
    assert got == want
    # the corrected hour's bars actually changed
    base = {
        (r["event_type"], str(r["bar_start"])): r["high"]
        for r in ohlc_bars(ev, bucket="hour").collect()
    }
    changed = [k for k in got if str(h0) in k[1]]
    assert changed and any(got[k][1] != base[k] for k in changed)

    # monoid compaction materializes and retires the backfill dir
    assert OHLC.compact(spark, store, upto_batch_id=1) == 3
    assert list_store(spark, store).raw == [-2]
    assert list_store(spark, store).floors == []
    assert served() == want


def test_fts_term_bucket_layout_prunes_partitions(spark, tmp_path):
    """The r8 layout change (VERDICT r7 item 4): every FTS generation is
    term_bucket-partitioned, so a serve's query-term filter is a
    PartitionFilter — judged three ways: (1) the executed plan carries
    term_bucket in PartitionFilters, (2) the filesystem-level files-read
    bound shrinks vs the unpruned store (before/after count), and
    (3) serving stays byte-identical to the one-shot path through build,
    compaction, and the pruned read."""
    from pdf_brain_spark.operators.fts import bm25_scores
    from pdf_brain_spark.streaming.events import (
        FTS_TERM_BUCKETS,
        compact_fts_index,
        fts_search_persisted,
        make_fts_postings_batch_fn,
        portable_term_bucket,
    )
    from pdf_brain_spark.sources.loaders import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "fts")
    fn = make_fts_postings_batch_fn(idx)
    fn(docs.filter(F.col("doc_id") % 2 == 0), 0)
    fn(docs.filter(F.col("doc_id") % 2 == 1), 1)
    assert compact_fts_index(spark, idx, upto_batch_id=1) == 2

    terms = ["spark", "shuffle", "join"]
    probe = sorted({portable_term_bucket(t) for t in terms})
    assert len(probe) < FTS_TERM_BUCKETS  # the probe actually prunes

    # (1) plan evidence on the SERVE'S OWN plan (not a hand-built scan —
    # self-review r8 finding): the term_bucket probe must land in a
    # PartitionFilters clause of fts_search_persisted's executed plan
    served = fts_search_persisted(spark, idx, terms, k=10)
    import os

    def all_parquet(root):
        return [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    bucket_scans = [
        seg for seg in plan.split("PartitionFilters")[1:] if "term_bucket" in seg[:300]
    ]
    assert bucket_scans, f"no term_bucket PartitionFilter in serve plan:\n{plan[:2000]}"

    # (2) files-read bound: probed buckets hold strictly fewer files
    total_files = all_parquet(idx)
    probed_files = [
        f
        for f in total_files
        if any(f"term_bucket={b}/" in f or f"term_bucket={b}{os.sep}" in f for b in probe)
    ]
    assert 0 < len(probed_files) < len(total_files)

    # (3) semantics unchanged through the partitioned layout + compaction
    got = [
        (r["doc_id"], round(r["bm25"], 6), r["terms_matched"])
        for r in served.collect()
    ]
    want = [
        (r["doc_id"], round(r["bm25"], 6), r["terms_matched"])
        for r in bm25_scores(docs, terms, k=10).collect()
    ]
    assert got == want and got


def test_fts_reingest_without_tombstone_raises(spark, tmp_path):
    """ADVICE r7: re-ingesting a doc_id without a tombstone leaves two
    generations' postings live (double-counted tf); the serve path must
    refuse to serve that state, not return silently-wrong scores."""
    import pytest as _pytest

    from pdf_brain_spark.streaming.events import (
        fts_search_persisted,
        make_fts_postings_batch_fn,
    )

    docs = spark.createDataFrame(
        [(1, "spark joins"), (2, "other words")], "doc_id long, text string"
    )
    idx = str(tmp_path / "fts")
    fn = make_fts_postings_batch_fn(idx)
    fn(docs, 0)
    fn(docs.filter(F.col("doc_id") == 1), 1)  # update WITHOUT tombstone
    with _pytest.raises(ValueError, match="tombstone-then-reinsert|more than one"):
        fts_search_persisted(spark, idx, ["spark"], k=10).collect()
    # the COMPACTOR must also refuse: merging the duplicate generations
    # would make the double-count undetectable by the serve-path check
    # (self-review r8 finding)
    from pdf_brain_spark.streaming.events import compact_fts_index

    with _pytest.raises(ValueError, match="more than one"):
        compact_fts_index(spark, idx, upto_batch_id=1)


def test_generation_protocol_marker(spark, tmp_path):
    """ADVICE r7: a store with generation dirs but no protocol marker
    (pre-v2 encoding, or foreign writer) must be REJECTED, not misread —
    a batch_id=-m dir under the old encoding means coverage m, under the
    new one coverage m-1. Writers stamp new stores automatically."""
    import os

    import pytest as _pytest

    from pdf_brain_spark.streaming.events import ROLLUP
    from pdf_brain_spark.streaming.generations import (
        PROTOCOL_MARKER,
        list_store,
        stamp_protocol,
    )

    ev = spark.createDataFrame(
        [(1, "a", 1.0)], "event_id long, event_type string, value double"
    ).withColumn("ts", F.current_timestamp())
    roll = str(tmp_path / "roll")
    ROLLUP.batch_fn(roll)(ev, 0)
    assert os.path.exists(os.path.join(roll, PROTOCOL_MARKER))
    assert list_store(spark, roll).raw == [0]

    # simulate a pre-v2 store: generation dirs, no marker
    os.remove(os.path.join(roll, PROTOCOL_MARKER))
    with _pytest.raises(ValueError, match="predates|marker"):
        list_store(spark, roll).raw
    # a WRITER hitting the same store must not launder it either: the
    # resumed-stream upgrade path raises instead of stamping
    # (self-review r8 finding)
    with _pytest.raises(ValueError, match="predates|marker"):
        stamp_protocol(spark, roll)
    # explicit operator override after verifying no negative generations
    stamp_protocol(spark, roll, force=True)
    assert list_store(spark, roll).raw == [0]
    # an empty/nonexistent store is fine without a marker
    assert list_store(spark, str(tmp_path / "nothing")).raw == []


def test_time_travel_below_compacted_coverage_specific_error(spark, tmp_path):
    """ADVICE r7: asking for a snapshot older than the newest compacted
    coverage must raise the retention-limit error, not the generic
    'no live generations' fallthrough."""
    import pytest as _pytest

    from pdf_brain_spark.streaming.events import ROLLUP, read_rollup

    ev = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)],
        "event_id long, event_type string, value double",
    ).withColumn("ts", F.current_timestamp())
    roll = str(tmp_path / "roll")
    fn = ROLLUP.batch_fn(roll)
    fn(ev.filter(F.col("event_id") == 1), 0)
    fn(ev.filter(F.col("event_id") == 2), 1)
    assert ROLLUP.compact(spark, roll, upto_batch_id=1) == 2
    # travel to coverage 1 still works (the compacted generation)
    assert read_rollup(spark, roll, asof_batch_id=1).count() > 0
    with _pytest.raises(ValueError, match="retired by a compaction"):
        read_rollup(spark, roll, asof_batch_id=0).collect()


def test_rollup_bitemporal_write_vs_coverage(spark, tmp_path):
    """VERDICT r7 item 6: both temporalities served from ONE store.
    coverage-asof answers 'corrected history as of batch N' (a later
    repair with floor <= N participates); write-asof answers 'what batch
    N's reader saw' (the later repair is invisible, exactly as it was).
    Compaction retires both kinds of snapshot with specific errors."""
    import pytest as _pytest

    from pdf_brain_spark.streaming.events import ROLLUP, backfill_rollup, read_rollup

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, event_type string, ts timestamp, value double"
        )

    import datetime as dt

    h0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    h1 = dt.datetime(2024, 1, 1, 11, 0, 0)
    roll = str(tmp_path / "roll")
    fn = ROLLUP.batch_fn(roll)
    fn(mk([(1, "a", h0, 10.0), (2, "a", h0, 20.0)]), 0)
    fn(mk([(3, "a", h1, 5.0)]), 1)

    def snap(**kw):
        return sorted(
            (r["event_type"], str(r["window_start"]), r["n_events"], r["total_value"])
            for r in read_rollup(spark, roll, **kw).collect()
        )

    seen_at_1 = snap(asof_batch_id=1)  # pre-repair: both modes agree
    assert snap(asof_batch_id=1, temporal="write") == seen_at_1
    assert ("a", str(h0), 2, 30.0) in seen_at_1

    # repair: hour h0 was double-counted — corrected slice has one event
    backfill_rollup(spark, roll, mk([(1, "a", h0, 10.0)]), floor_batch_id=1)

    corrected = snap(asof_batch_id=1)  # coverage mode sees the repair
    assert ("a", str(h0), 1, 10.0) in corrected and corrected != seen_at_1
    # write mode reproduces the pre-repair read byte-for-byte
    assert snap(asof_batch_id=1, temporal="write") == seen_at_1

    # batch 2 lands after the repair: its reader saw repair + batch 2
    fn(mk([(4, "b", h1, 7.0)]), 2)
    at_2_write = snap(asof_batch_id=2, temporal="write")
    assert ("a", str(h0), 1, 10.0) in at_2_write  # repair visible
    assert ("b", str(h1), 1, 7.0) in at_2_write
    assert at_2_write == snap(asof_batch_id=2)  # nothing newer than batch 2

    # compaction retires old snapshots in BOTH temporalities
    assert ROLLUP.compact(spark, roll, upto_batch_id=2) == 4
    assert snap() == at_2_write  # current serve unchanged
    with _pytest.raises(ValueError, match="retired by a compaction"):
        read_rollup(spark, roll, asof_batch_id=1).collect()
    with _pytest.raises(ValueError, match="write-time|retired"):
        read_rollup(spark, roll, asof_batch_id=1, temporal="write").collect()


def test_streaming_kmv_replay_merge_compact(spark, tmp_path):
    """Set-valued monoid on the partials store: KMV partials are
    replay-idempotent, the served estimate across batch generations
    equals the one-shot sketch over all rows (bottom-K union-truncate
    associativity exercised through real splits), and compaction with
    the set-union monoid preserves serving exactly."""
    from pdf_brain_spark.functions.sql import Fragment
    from pdf_brain_spark.functions.text import md5_long
    from pdf_brain_spark.streaming.events import KMV, KMV_K, read_kmv
    from pdf_brain_spark.streaming.generations import list_store
    from pdf_brain_spark.sources.loaders import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "user_id"
    )
    store = str(tmp_path / "kmv")
    fn = KMV.batch_fn(store)
    fn(ev.filter(F.col("event_id") % 3 == 0), 0)
    fn(ev.filter(F.col("event_id") % 3 == 1), 1)
    fn(ev.filter(F.col("event_id") % 3 == 2), 2)

    def snapshot():
        return sorted(
            (r["event_type"], tuple(r["hashes"]))
            for r in spark.read.option("basePath", store).parquet(store).collect()
        )

    before = snapshot()
    fn(ev.filter(F.col("event_id") % 3 == 1), 1)  # crash replay
    assert snapshot() == before

    def served():
        return sorted(
            (r["event_type"], r["n_in_sketch"], r["kmv_estimate"])
            for r in read_kmv(spark, store).collect()
        )

    # one-shot reference: bottom-K distinct hashes over ALL rows
    import pandas as pd  # noqa: F401

    one_shot = (
        ev.select("event_type", md5_long(Fragment("CAST(user_id AS STRING)")).alias("h"))
        .distinct()
        .groupBy("event_type")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("hashes"))
    )
    want = []
    for r in one_shot.collect():
        n = len(r["hashes"])
        est = n if n < KMV_K else round((KMV_K - 1) * (2**60 / r["hashes"][-1]))
        want.append((r["event_type"], n, est))
    want = sorted(want)
    got = served()
    assert got == want and got

    # compaction with the set-union monoid preserves serving
    assert KMV.compact(spark, store, upto_batch_id=2) == 3
    assert list_store(spark, store).raw == [-3]
    assert served() == want


def test_streaming_regression_replay_merge_compact(spark, tmp_path):
    """Moment-vector monoid on the partials store: OLS moment partials
    are replay-idempotent, the served slope/intercept across batch
    generations is BIT-IDENTICAL to the one-shot fit over all rows
    (elementwise integer addition is trivially associative — the test
    exercises it through real three-way splits), and compaction with
    the additive monoid preserves serving exactly."""
    from pdf_brain_spark.streaming.events import (
        REGRESSION,
        read_regression,
        regression_fit_exprs,
    )
    from pdf_brain_spark.streaming.generations import list_store
    from pdf_brain_spark.sources.loaders import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "ts", "value"
    )
    store = str(tmp_path / "reg")
    fn = REGRESSION.batch_fn(store)
    fn(ev.filter(F.col("event_id") % 3 == 0), 0)
    fn(ev.filter(F.col("event_id") % 3 == 1), 1)
    fn(ev.filter(F.col("event_id") % 3 == 2), 2)

    def raw_rows():
        return sorted(
            tuple(r) for r in spark.read.option("basePath", store).parquet(store).collect()
        )

    before = raw_rows()
    fn(ev.filter(F.col("event_id") % 3 == 1), 1)  # crash replay
    assert raw_rows() == before

    def served():
        return sorted(
            tuple(r)
            for r in read_regression(spark, store).collect()
        )

    slope, intercept = regression_fit_exprs()
    one_shot = REGRESSION.partial(ev, 0).select(
        "event_type", *REGRESSION.values, slope, intercept
    )
    want = sorted(tuple(r) for r in one_shot.collect())
    got = served()
    assert got == want and got

    assert REGRESSION.compact(spark, store, upto_batch_id=2) == 3
    assert list_store(spark, store).raw == [-3]
    assert served() == want


def test_streaming_bitmap_exact_distinct_and_compact(spark, tmp_path):
    """Bitmap monoid: the served count equals EXACT countDistinct
    (ground truth, not a replay), idempotent under crash replay AND
    under overlapping batches (OR is idempotent — re-sending the same
    rows in a different batch cannot inflate the count), and compaction
    with the OR monoid preserves serving."""
    from pdf_brain_spark.streaming.events import BITMAP, read_bitmap_distinct
    from pdf_brain_spark.streaming.generations import list_store
    from pdf_brain_spark.sources.loaders import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "user_id"
    )
    store = str(tmp_path / "bm")
    fn = BITMAP.batch_fn(store)
    fn(ev.filter(F.col("event_id") % 2 == 0), 0)
    # OVERLAPPING batch: odd rows plus a resend of every 4th even row
    fn(ev.filter((F.col("event_id") % 2 == 1) | (F.col("event_id") % 4 == 0)), 1)

    def served():
        return sorted(
            (r["event_type"], r["n_distinct"])
            for r in read_bitmap_distinct(spark, store).collect()
        )

    want = sorted(
        (r["event_type"], r["nd"])
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    )
    got = served()
    assert got == want and got

    fn(ev.filter((F.col("event_id") % 2 == 1) | (F.col("event_id") % 4 == 0)), 1)
    assert served() == want  # crash replay

    assert BITMAP.compact(spark, store, upto_batch_id=1) == 2
    assert list_store(spark, store).raw == [-2]
    assert served() == want


def test_streaming_cms_replay_merge_compact(spark, tmp_path):
    """CMS monoid: replay-idempotent, batch-split-invariant (estimates
    from a three-way split equal the one-shot sketch bit for bit), the
    estimate upper-bounds the true count for EVERY term, and compaction
    with the additive monoid preserves serving."""
    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.streaming.events import CMS, read_cms_estimates
    from pdf_brain_spark.streaming.generations import list_store
    from pdf_brain_spark.sources.loaders import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "cms")
    fn = CMS.batch_fn(store)
    fn(docs.filter(F.col("doc_id") % 3 == 0), 0)
    fn(docs.filter(F.col("doc_id") % 3 == 1), 1)
    fn(docs.filter(F.col("doc_id") % 3 == 2), 2)

    def raw_rows():
        return sorted(
            tuple(r)
            for r in spark.read.option("basePath", store).parquet(store).collect()
        )

    before = raw_rows()
    fn(docs.filter(F.col("doc_id") % 3 == 1), 1)  # crash replay
    assert raw_rows() == before

    exact = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
    ).localCheckpoint(eager=True)

    def served():
        return sorted(
            (r["term"], r["cms_estimate"])
            for r in read_cms_estimates(spark, store, exact.select("term")).collect()
        )

    got = dict(served())
    truth = {r["term"]: r["true_count"] for r in exact.collect()}
    assert set(got) == set(truth) and got
    for t, est in got.items():
        assert est >= truth[t], (t, est, truth[t])  # CMS never underestimates

    # one-shot sketch over ALL docs must equal the streamed-and-merged one
    one_shot_store = str(tmp_path / "cms_one")
    CMS.batch_fn(one_shot_store)(docs, 0)
    want = sorted(
        (r["term"], r["cms_estimate"])
        for r in read_cms_estimates(spark, one_shot_store, exact.select("term")).collect()
    )
    assert served() == want

    assert CMS.compact(spark, store, upto_batch_id=2) == 3
    assert list_store(spark, store).raw == [-3]
    assert served() == want


def test_streaming_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Checkpoint RESUME, not just replay: a second AvailableNow run
    over the same checkpoint must process ONLY files that arrived after
    the first run — existing generations keep their bytes (mtime-stable)
    and their write sequence, and the served result equals the one-shot
    over all data (monoid invariance through a real restart)."""
    import os

    from pdf_brain_spark.streaming.events import KMV, read_kmv
    from pdf_brain_spark.streaming.generations import list_store, write_seqs
    from pdf_brain_spark.sources.loaders import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "event_type", "user_id"
    )
    stage = str(tmp_path / "stage")
    store = str(tmp_path / "kmv")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.col("event_id") % 3 == 0).coalesce(1).write.mode("append").parquet(stage)
    ev.filter(F.col("event_id") % 3 == 1).coalesce(1).write.mode("append").parquet(stage)

    def run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        KMV.stream(stream, store, ckpt).awaitTermination()

    run()
    seqs_before = write_seqs(spark, list_store(spark, store))
    assert set(seqs_before) == {"batch_id=0", "batch_id=1"}
    gen_mtimes = {
        d: max(
            os.path.getmtime(os.path.join(store, d, f))
            for f in os.listdir(os.path.join(store, d))
        )
        for d in seqs_before
    }

    # new data arrives; SAME checkpoint — the resume must pick up only it
    ev.filter(F.col("event_id") % 3 == 2).coalesce(1).write.mode("append").parquet(stage)
    run()
    seqs_after = write_seqs(spark, list_store(spark, store))
    assert set(seqs_after) == {"batch_id=0", "batch_id=1", "batch_id=2"}
    # prior generations untouched: same wseq, same file mtimes
    for d in seqs_before:
        assert seqs_after[d] == seqs_before[d]
        mt = max(
            os.path.getmtime(os.path.join(store, d, f))
            for f in os.listdir(os.path.join(store, d))
        )
        assert mt == gen_mtimes[d], d

    # served result == one-shot over ALL events
    from pdf_brain_spark.functions.sql import Fragment
    from pdf_brain_spark.functions.text import md5_long
    from pdf_brain_spark.streaming.events import KMV_K

    one_shot = (
        ev.select("event_type", md5_long(Fragment("CAST(user_id AS STRING)")).alias("h"))
        .distinct()
        .groupBy("event_type")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("hashes"))
    )
    want = []
    for r in one_shot.collect():
        n = len(r["hashes"])
        est = n if n < KMV_K else round((KMV_K - 1) * (2**60 / r["hashes"][-1]))
        want.append((r["event_type"], n, est))
    got = sorted(
        (r["event_type"], r["n_in_sketch"], r["kmv_estimate"])
        for r in read_kmv(spark, store).collect()
    )
    assert got == sorted(want)


def test_streaming_minhash_replay_merge_compact(spark, tmp_path):
    """MIN-monoid: replay-idempotent, batch-split invariant (streamed
    signatures equal the one-shot build bit for bit — MIN is idempotent
    so even OVERLAPPING batches cannot skew it), and compaction with
    the MIN monoid preserves serving."""
    from pdf_brain_spark.streaming.events import MINHASH, read_minhash_similarity
    from pdf_brain_spark.streaming.generations import list_store
    from pdf_brain_spark.sources.loaders import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "source", "text"
    )
    store = str(tmp_path / "mh")
    fn = MINHASH.batch_fn(store)
    fn(docs.filter(F.col("doc_id") % 3 == 0), 0)
    # overlapping batch: thirds 1 and 2 plus a resend of every 6th doc
    fn(docs.filter((F.col("doc_id") % 3 != 0) | (F.col("doc_id") % 6 == 0)), 1)

    def raw_rows():
        return sorted(
            tuple(r)
            for r in spark.read.option("basePath", store).parquet(store).collect()
        )

    before = raw_rows()
    fn(docs.filter(F.col("doc_id") % 3 == 0), 0)  # crash replay
    assert raw_rows() == before

    def served():
        return sorted(
            tuple(r) for r in read_minhash_similarity(spark, store).collect()
        )

    one_shot_sig = MINHASH.partial(docs, 0)
    a = one_shot_sig.selectExpr("grp as src_a", "k", "sig as sig_a")
    b = one_shot_sig.selectExpr("grp as src_b", "k as kb", "sig as sig_b")
    want = sorted(
        tuple(r)
        for r in a.join(
            b, (F.col("kb") == F.col("k")) & (F.col("src_a") < F.col("src_b"))
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.when(F.col("sig_a") == F.col("sig_b"), 1).otherwise(0))
            .cast("long")
            .alias("matches")
        )
        .withColumn("jaccard_est_ppm", F.expr("(matches * 1000000) div 16"))
        .collect()
    )
    got = served()
    assert got == want and got

    assert MINHASH.compact(spark, store, upto_batch_id=1) == 2
    assert list_store(spark, store).raw == [-2]
    assert served() == want


def test_fts_corpus_stats_reads_only_doc_grain_store(spark, tmp_path):
    """The serve's N/avgdl arm must read only the doc-grain partition
    (term_bucket = FTS_DOC_BUCKET) of each generation, never a postings
    bucket's term grain. Pin it in the plan: every FileScan of a
    generation in the stats frame's executed plan carries the partition
    filter `term_bucket = -1` and no other bucket, with and without a
    tombstone anti-join between the filter and the scan. Also checks
    deletion flows through to the stats (N excludes tombstoned docs)."""
    import re

    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import (
        FTS_DOC_BUCKET,
        delete_fts_documents,
        fts_corpus_stats,
        make_fts_postings_batch_fn,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "fts")
    fn = make_fts_postings_batch_fn(idx)
    fn(docs.filter(F.col("doc_id") % 2 == 0), 0)
    fn(docs.filter(F.col("doc_id") % 2 == 1), 1)

    def assert_scans_doc_partition_only(stats_df):
        plan = stats_df._jdf.queryExecution().executedPlan().toString()
        scans = re.findall(
            r"FileScan parquet \[([^\]]*)\].*?PartitionFilters: \[([^\]]*)\]", plan
        )
        generations = [pf for cols, pf in scans if "term_bucket" in cols]
        assert generations, plan
        for pf in generations:
            assert re.search(rf"\(term_bucket#\d+ = {FTS_DOC_BUCKET}\)", pf), pf
            assert len(re.findall(r"term_bucket#\d+ (?:=|IN)", pf)) == 1, pf

    stats_df = fts_corpus_stats(spark, idx)
    assert_scans_doc_partition_only(stats_df)
    n_docs = docs.count()
    row = stats_df.collect()[0]
    assert row["n"] == n_docs and row["max_gen"] == 1

    # a tombstone above the frontier puts a broadcast anti-join between
    # the filter and the scan; the filter still prunes the scan
    delete_fts_documents(spark, idx, docs.limit(3).select("doc_id"), 1)
    stats_df = fts_corpus_stats(spark, idx)
    assert_scans_doc_partition_only(stats_df)
    assert stats_df.collect()[0]["n"] == n_docs - 3


def test_novelty_store_monoid_replay_and_compaction(spark, tmp_path):
    """The first-seen novelty store's min-struct monoid must make (1) a
    replayed batch a no-op (idempotent batch_id overwrite), (2)
    compaction serve-identical to the uncompacted store, and (3) the
    served first-seen table equal a python incremental seen-set walk
    over the same batches."""
    from pdf_brain_spark.streaming.events import NOVELTY, read_novelty

    b0 = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"), (1, "beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"), (11, "eta theta iota kappa lambda")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "novelty")
    fn = NOVELTY.batch_fn(store)
    fn(b0, 0)
    fn(b1, 1)
    served = {
        (r["first_batch"], r["n_new_types"], r["share_ppm"])
        for r in read_novelty(spark, store).collect()
    }
    # python walk: batch 0 contributes 4-grams of docs 0,1; batch 1 only
    # doc 11's grams are new (doc 10 repeats doc 0's text)
    def grams(t):
        w = t.split()
        return {" ".join(w[i : i + 4]) for i in range(len(w) - 3)}

    seen0 = grams("alpha beta gamma delta epsilon") | grams(
        "beta gamma delta epsilon zeta"
    )
    new1 = grams("eta theta iota kappa lambda") - seen0
    tot = len(seen0) + len(new1)
    want = {
        (0, len(seen0), len(seen0) * 1_000_000 // tot),
        (1, len(new1), len(new1) * 1_000_000 // tot),
    }
    assert served == want

    # replaying batch 1 (idempotent overwrite) changes nothing
    fn(b1, 1)
    assert {
        tuple(r) for r in read_novelty(spark, store).collect()
    } == {tuple(sorted(want)[0]), tuple(sorted(want)[1])}

    # compaction is serve-identical
    assert NOVELTY.compact(spark, store, upto_batch_id=1) == 2
    assert {tuple(r) for r in read_novelty(spark, store).collect()} == want


def test_novelty_store_random_batch_split_invariance(spark, tmp_path):
    """Property test for the novelty store's monoid claim: for RANDOM
    corpora and RANDOM batch splits, the served first-seen rollup must
    equal a python incremental walk over the same split — and the
    merged per-type (first_batch, first_doc) table must equal the
    brute-force min over batches regardless of how many batches the
    stream carved."""
    import random

    from pdf_brain_spark.streaming.events import NOVELTY, read_novelty

    vocab = [f"w{i}" for i in range(12)]
    for seed in (9, 51):
        rng = random.Random(seed)
        docs = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(4, 12))))
            for i in range(rng.randint(6, 18))
        ]
        # random contiguous split into 2-3 batches (stream order = id order)
        cuts = sorted(rng.sample(range(1, len(docs)), rng.randint(1, 2)))
        batches, prev = [], 0
        for c in [*cuts, len(docs)]:
            batches.append(docs[prev:c])
            prev = c
        store = str(tmp_path / f"nov_{seed}")
        fn = NOVELTY.batch_fn(store)
        for bid, rows in enumerate(batches):
            fn(
                spark.createDataFrame(rows, "doc_id long, text string"),
                bid,
            )
        served = {
            (r["first_batch"], r["n_new_types"])
            for r in read_novelty(spark, store).collect()
        }

        # python incremental walk over the same split
        def grams(t):
            w = t.split()
            return {" ".join(w[i : i + 4]) for i in range(len(w) - 3)}

        seen: set = set()
        counts = {}
        for bid, rows in enumerate(batches):
            fresh = set()
            for _, t in rows:
                fresh |= grams(t) - seen
            if fresh:
                counts[bid] = len(fresh)
            seen |= fresh
        want = {(b, n) for b, n in counts.items()}
        assert served == want, (seed, served, want)
