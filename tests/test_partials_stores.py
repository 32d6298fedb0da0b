"""The ten mergeable-partials sketch stores (streaming/events.py), each one
`PartialsStore` declaration: one lifecycle test runs every store through
the shared writer, reader selection, compactor and backfill; regression
tests pin the bitmap and histogram edge cases; a source guard keeps one
foreachBatch start and one write-sequence writer."""

import ast
import datetime as dt
import pathlib
import re

import pytest
from pyspark.sql import functions as F

STORES = [
    "ROLLUP",
    "VALUE_HISTOGRAM",
    "TERM_COUNTS",
    "OHLC",
    "KMV",
    "REGRESSION",
    "BITMAP",
    "CMS",
    "MINHASH",
    "NOVELTY",
]
STREAMING = pathlib.Path(__file__).resolve().parents[1] / "pdf_brain_spark" / "streaming"


@pytest.fixture(scope="module")
def facts(spark):
    """One frame with every column a store reads: events columns
    (event_id, ts, user_id, event_type, value) and document columns
    (doc_id, source, text). Rows of one event_type and hour fall in both
    parity halves, so batch 1 merges into keys batch 0 already wrote."""
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota"]
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (
            i,
            i,
            base + dt.timedelta(minutes=13 * i),
            (i * 7) % 23,
            ("click", "view", "buy")[i % 3],
            round(((i * 37) % 1000) / 10.0, 2),
            ("web", "pdf", "mail")[i % 3],
            " ".join(words[(i * 2 + j) % len(words)] for j in range(6)),
        )
        for i in range(48)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, doc_id long, ts timestamp, user_id long, "
        "event_type string, value double, source string, text string",
    ).localCheckpoint(eager=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _store_rows(spark, store_dir):
    """Every generation dir of the store with its rows: a replay must
    leave this unchanged."""
    from pdf_brain_spark.streaming.generations import read_generation_dirs

    return {
        p.name: _rows(read_generation_dirs(spark, [str(p)]))
        for p in sorted(pathlib.Path(store_dir).iterdir())
        if p.is_dir() and "=" in p.name
    }


def _one_shot(spark, store, df, tmp_path):
    """The store's merged read of a single partial over all of `df`."""
    one = str(tmp_path / "one_shot")
    store.batch_fn(one)(df, 0)
    return _rows(store.merged(spark, one))


@pytest.mark.parametrize("name", STORES)
def test_partials_store_lifecycle(spark, facts, tmp_path, name):
    """Batch 0, then batch 1 twice (a crash replay leaves every
    generation's rows unchanged), then compaction. The merged read
    equals the one-shot partial over both batches (for NOVELTY, whose
    partial records its batch: the first-seen rows of the two partials),
    before and after compaction."""
    from pdf_brain_spark.streaming import events
    from pdf_brain_spark.streaming.generations import list_store

    store = getattr(events, name)
    b0 = facts.filter(F.col("event_id") % 2 == 0)
    b1 = facts.filter(F.col("event_id") % 2 == 1)
    d = str(tmp_path / "store")
    fn = store.batch_fn(d)
    fn(b0, 0)
    fn(b1, 1)
    before = _store_rows(spark, d)
    assert set(before) == {"batch_id=0", "batch_id=1"}
    fn(b1, 1)
    assert _store_rows(spark, d) == before

    if name == "NOVELTY":
        p0 = store.partial(b0, 0)
        want = _rows(p0.unionByName(store.partial(b1, 1).join(p0, "ng", "left_anti")))
    else:
        want = _one_shot(spark, store, facts, tmp_path)
    assert want
    assert _rows(store.merged(spark, d)) == want

    assert store.compact(spark, d, upto_batch_id=1) == 2
    assert list_store(spark, d).raw == [-2]
    assert _rows(store.merged(spark, d)) == want


@pytest.mark.parametrize("name", ["ROLLUP", "VALUE_HISTOGRAM", "OHLC"])
def test_partials_store_backfill_then_compact(spark, facts, tmp_path, name):
    """A backfill at floor 1 carrying every corrected 'click' fact: the
    click keys serve exactly the corrected partial, every other key is
    unchanged, and compaction (2 additive generations + 1 backfill)
    keeps that served state."""
    from pdf_brain_spark.streaming import events
    from pdf_brain_spark.streaming.generations import list_store

    store = getattr(events, name)
    d = str(tmp_path / "store")
    fn = store.batch_fn(d)
    fn(facts.filter(F.col("event_id") % 2 == 0), 0)
    fn(facts.filter(F.col("event_id") % 2 == 1), 1)
    before = _rows(store.merged(spark, d))

    corrected = facts.filter(F.col("event_type") == "click").withColumn(
        "value", F.round(F.col("value") * 2, 2)
    )
    store.backfill(spark, d, corrected, floor_batch_id=1)
    want = sorted(
        [r for r in before if r[0] != "click"]
        + _one_shot(spark, store, corrected, tmp_path)
    )
    assert want != before
    assert _rows(store.merged(spark, d)) == want

    assert store.compact(spark, d, upto_batch_id=1) == 3
    assert list_store(spark, d).raw == [-2]
    assert list_store(spark, d).floors == []
    assert _rows(store.merged(spark, d)) == want


def test_bitmap_negative_and_null_keys(spark, tmp_path):
    """Key k lives in word floor(k/64) at bit pmod(k, 64): -1 and 63 are
    two distinct keys in two words (truncating division put both in bit
    63 of word 0), and a NULL key sets no bit and adds no word."""
    from pdf_brain_spark.streaming.events import BITMAP, read_bitmap_distinct

    ev = spark.createDataFrame(
        [("a", -1), ("a", 63), ("b", None), ("b", 5), ("c", -64), ("c", -65), ("c", -64)],
        "event_type string, user_id long",
    )
    d = str(tmp_path / "bm")
    BITMAP.batch_fn(d)(ev, 0)
    got = {
        r["event_type"]: (r["n_distinct"], r["n_words"])
        for r in read_bitmap_distinct(spark, d).collect()
    }
    assert got == {"a": (2, 2), "b": (1, 1), "c": (2, 2)}


def test_value_histogram_drops_null_values(spark, tmp_path):
    """A NULL value has no rank: 10 NULLs plus 1..10 serve the
    percentile_disc answers of 1..10 (p50 5.0, p95 10.0), from a stream
    batch and from a backfill alike."""
    from pdf_brain_spark.streaming.events import (
        VALUE_HISTOGRAM,
        read_histogram_percentiles,
    )

    ev = spark.createDataFrame(
        [("x", None)] * 10 + [("x", float(v)) for v in range(1, 11)],
        "event_type string, value double",
    )
    want = [("x", 0.5, 5.0), ("x", 0.95, 10.0), ("x", 0.99, 10.0)]
    streamed = str(tmp_path / "streamed")
    VALUE_HISTOGRAM.batch_fn(streamed)(ev, 0)
    assert _rows(read_histogram_percentiles(spark, streamed)) == want

    backfilled = str(tmp_path / "backfilled")
    VALUE_HISTOGRAM.batch_fn(backfilled)(ev.filter(F.col("value") > 5), 0)
    VALUE_HISTOGRAM.backfill(spark, backfilled, ev, floor_batch_id=0)
    assert _rows(read_histogram_percentiles(spark, backfilled)) == want


def test_streaming_package_has_one_writer_per_concern():
    """One foreachBatch start and one empty-batch skip under streaming/,
    one compaction rename and one frontier (m*) computation, write
    sequences recorded only by the generation protocol, ten PartialsStore
    and three IndexStore declarations, none of the per-store writers,
    drivers, compactors or store-listing helpers they replaced (no
    aliases either), and one FTS store (no sibling doc-stats store)."""
    from pdf_brain_spark.streaming import ann_ingest, events, generations
    from pdf_brain_spark.streaming.generations import IndexStore, PartialsStore

    sources = {p.name: p.read_text() for p in sorted(STREAMING.glob("*.py"))}
    assert sum(s.count("foreachBatch(") for s in sources.values()) == 1
    assert sum(s.count("isEmpty(") for s in sources.values()) == 1
    assert sum(s.count(".rename(") for s in sources.values()) == 1
    frontier = re.compile(r"coverage\(\w+\) for \w+ in [\w.]+ if \w+ < 0")
    assert sum(len(frontier.findall(s)) for s in sources.values()) == 1
    assert [n for n, s in sources.items() if "fts_docs_dir" in s or '_docs"' in s] == []
    helpers = ["generation_ids", "backfill_floors", "tombstone_floors", "_tombstone_dirs",
               "live_generation_dirs", "_list_names", "_check_protocol", "write_tombstones",
               "kept_index_rows", "compact_index_rows", "fts_store_buckets",
               "_stamp_fts_buckets", "_TERM_BUCKETS_PREFIX"]
    word = re.compile(r"\b(" + "|".join(helpers) + r")\b")
    assert {n: word.findall(s) for n, s in sources.items() if word.search(s)} == {}
    indexes = {
        n: v.key
        for m in (events, ann_ingest, generations)
        for n, v in vars(m).items()
        if isinstance(v, IndexStore)
    }
    assert indexes == {"BAND_INDEX": "doc_id", "FTS_INDEX": "doc_id", "IVF_INDEX": "vec_id"}

    def calls(src, fn):
        return [
            n.lineno
            for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.Call)
            and fn in (getattr(n.func, "id", None), getattr(n.func, "attr", None))
        ]

    assert {name for name, src in sources.items() if calls(src, "record_wseq")} == {
        "generations.py"
    }

    declared = sorted(n for n, v in vars(events).items() if isinstance(v, PartialsStore))
    assert declared == sorted(STORES)

    sketches = ["rollup", "value_histogram", "term_counts", "ohlc", "kmv",
                "regression", "bitmap", "cms", "minhash", "novelty"]
    drivers = ["rollup", "percentiles", "term_counts", "ohlc", "kmv",
               "regression", "bitmap", "cms", "minhash", "novelty"]
    gone = (
        [f"make_{s}_batch_fn" for s in sketches]
        + [f"compact_{s}" for s in sketches]
        + [f"streaming_incremental_{s}" for s in drivers]
        + ["_rollup_kept_rows", "backfill_value_histogram", "backfill_ohlc"]
    )
    assert [n for n in gone if hasattr(events, n)] == []
    pattern = re.compile(r"^(make_\w+_batch_fn|streaming_incremental_\w+|compact_\w+)$")
    assert sorted(n for n in vars(events) if pattern.match(n)) == [
        "compact_band_index",
        "compact_fts_index",
        "make_fts_postings_batch_fn",
        "make_incremental_dedup_batch_fn",
        "streaming_incremental_dedup",
    ]
