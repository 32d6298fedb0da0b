"""Persisted-index reads: every generation store is read through one
footer-schema helper (streaming/generations.py::read_generation_dirs),
and the persisted BM25 read builds with only its corpus-stats action."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
TERMS = ["spark", "shuffle", "join"]


def _build_jobs(spark, build):
    """(result, number of Spark jobs started while `build()` ran)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = build()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(set(sc.statusTracker().getJobIdsForGroup()) - before)


def _rows(df):
    return [(r["doc_id"], round(r["bm25"], 6), r["terms_matched"]) for r in df.collect()]


def _inferred(spark, dirs, base_path=None):
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*dirs)


@pytest.fixture(scope="module")
def docs(spark):
    from pdf_brain_spark.sources.loaders import load_table

    return load_table(spark, "documents", SF).select("doc_id", "text").cache()


@pytest.fixture(scope="module")
def fts_store(spark, docs, tmp_path_factory):
    """Batches 0-1 compacted into batch_id=-2, batch 2 live above it, and
    a takedown at floor 2 (above the compaction frontier). Returns
    (index_dir, live corpus)."""
    from pdf_brain_spark.streaming.events import (
        compact_fts_index,
        delete_fts_documents,
        make_fts_postings_batch_fn,
    )

    idx = str(tmp_path_factory.mktemp("persisted") / "fts")
    fn = make_fts_postings_batch_fn(idx)
    for b in range(3):
        fn(docs.filter(F.col("doc_id") % 3 == b), b)
    assert compact_fts_index(spark, idx, upto_batch_id=1) == 2
    dead = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 7 == 0).collect()]
    delete_fts_documents(
        spark, idx, spark.createDataFrame([(d,) for d in dead], "doc_id long"), 2
    )
    return idx, docs.filter(~F.col("doc_id").isin(dead))


@pytest.fixture(scope="module")
def fts_compacted(spark, docs, tmp_path_factory):
    """The state a serve reads right after a compaction: one live
    (compacted) generation per store, the takedown materialized."""
    from pdf_brain_spark.streaming.events import (
        compact_fts_index,
        delete_fts_documents,
        make_fts_postings_batch_fn,
    )

    idx = str(tmp_path_factory.mktemp("compacted") / "fts")
    fn = make_fts_postings_batch_fn(idx)
    fn(docs.filter(F.col("doc_id") % 2 == 0), 0)
    delete_fts_documents(spark, idx, spark.createDataFrame([(4,)], "doc_id long"), 0)
    fn(docs.filter(F.col("doc_id") % 2 == 1), 1)
    assert compact_fts_index(spark, idx, upto_batch_id=1) == 3
    return idx, docs.filter(F.col("doc_id") != 4)


@pytest.fixture(scope="module")
def ann_stores(spark, tmp_path_factory):
    """{element type: index_dir} for an ANN store ingested with
    array<float> and one with array<double>: batches 0-1 compacted,
    batch 2 live, a tombstone at floor 2. Returns (stores, centroids)."""
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.ann_ingest import (
        compact_ann_index,
        delete_vectors,
        make_ann_ingest_batch_fn,
    )

    emb = load_table(spark, "embeddings", SF).select("vec_id", "embedding")
    _, centroids = kmeans_assign(emb, k=4, seed=42)
    root = tmp_path_factory.mktemp("ann")
    stores = {}
    for elem in ("float", "double"):
        typed = emb.select(
            "vec_id", F.col("embedding").cast(f"array<{elem}>").alias("embedding")
        )
        idx = str(root / elem)
        fn = make_ann_ingest_batch_fn(idx, centroids)
        for b in range(3):
            fn(typed.filter(F.col("vec_id") % 3 == b), b)
        assert compact_ann_index(spark, idx, upto_batch_id=1) == 2
        delete_vectors(spark, idx, typed.filter(F.col("vec_id") % 5 == 0), 2)
        stores[elem] = idx
    return stores, centroids


@pytest.fixture(scope="module")
def fts_retombstoned(spark, docs, tmp_path_factory):
    """Batches 0-2 live (doc_id % 3), no compaction. Doc A (batch 0) is
    tombstoned at floors 1 and 2, in two dirs; doc B (batch 0) at floor 1,
    then re-inserted as batch 3; doc C (batch 2) only at floor 1, below
    its coverage; doc D (batch 2) at floor 2, equal to its coverage.
    Returns (index_dir, {name: doc_id})."""
    from pdf_brain_spark.streaming.events import (
        delete_fts_documents,
        make_fts_postings_batch_fn,
    )

    idx = str(tmp_path_factory.mktemp("retombstoned") / "fts")
    fn = make_fts_postings_batch_fn(idx)
    for b in range(3):
        fn(docs.filter(F.col("doc_id") % 3 == b), b)
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    batch0 = [i for i in ids if i % 3 == 0]
    batch2 = [i for i in ids if i % 3 == 2]
    key = {"A": batch0[0], "B": batch0[1], "C": batch2[0], "D": batch2[1]}

    def delete(names, floor):
        keys_df = spark.createDataFrame([(key[n],) for n in names], "doc_id long")
        delete_fts_documents(spark, idx, keys_df, floor)

    delete("ABC", 1)
    delete("AD", 2)
    fn(docs.filter(F.col("doc_id") == key["B"]), 3)
    return idx, key


# --- the helper reads what inference reads ----------------------------------


def test_footer_schema_equals_inferred_schema(spark, fts_store, ann_stores, tmp_path):
    from pdf_brain_spark.sources.loaders import load_table
    from pdf_brain_spark.streaming.events import (
        backfill_rollup,
        fts_docs_dir,
        make_rollup_batch_fn,
    )
    from pdf_brain_spark.streaming.generations import (
        _tombstone_dirs,
        backfill_floors,
        live_generation_dirs,
        read_generation_dirs,
    )

    idx, _ = fts_store
    stores, _ = ann_stores
    cases = []  # (label, dirs, base_path)
    for store in (idx, fts_docs_dir(idx), *stores.values()):
        live = live_generation_dirs(spark, store)
        assert any("batch_id=-" in d for d in live), live  # a compacted generation
        cases.append((store, live, store))
        cases.append((f"{store} compacted", [live[0]], store))
        tombs = _tombstone_dirs(spark, store)
        assert tombs
        cases += [(f"{store}/{name}", [f"{store}/{name}"], None) for _, name in tombs]

    ev = load_table(spark, "events", SF).select("event_id", "event_type", "ts", "value")
    roll = str(tmp_path / "rollup")
    fn = make_rollup_batch_fn(roll)
    for b in range(2):
        fn(ev.filter(F.col("event_id") % 2 == b), b)
    backfill_rollup(spark, roll, ev.filter(F.col("event_id") % 4 == 0), floor_batch_id=1)
    floors = [f"{roll}/backfill_floor={k}" for k in backfill_floors(spark, roll)]
    assert floors
    cases.append((f"{roll} backfill", floors, roll))
    cases.append((f"{roll} additive", live_generation_dirs(spark, roll), roll))

    for label, dirs, base in cases:
        got = read_generation_dirs(spark, dirs, base)
        want = _inferred(spark, dirs, base)
        assert got.schema == want.schema, label
    elem = {
        t: read_generation_dirs(spark, live_generation_dirs(spark, d), d)
        .schema["embedding"]
        .dataType.elementType.typeName()
        for t, d in stores.items()
    }
    assert elem == {"float": "float", "double": "double"}
    # rows too, on the hive-partitioned postings store
    live = live_generation_dirs(spark, idx)
    assert sorted(read_generation_dirs(spark, live, idx).collect()) == sorted(
        _inferred(spark, live, idx).collect()
    )


def test_dir_without_data_file_raises_named_error(spark, tmp_path):
    from pdf_brain_spark.streaming.generations import read_generation_dirs

    empty = tmp_path / "store" / "batch_id=0"
    (empty / "term_bucket=1").mkdir(parents=True)
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(ValueError, match="hold no data file"):
        read_generation_dirs(spark, [str(empty)], str(tmp_path / "store"))


def test_generation_store_reads_go_through_the_helper():
    """One way to read a generation store: no `spark.read ... .parquet(`
    under pdf_brain_spark/streaming/ outside read_generation_dirs (and
    the centroid side file of the ANN index)."""
    allowed = {
        ("generations.py", "read_generation_dirs"),
        ("ann_ingest.py", "read_index_centroids"),
    }
    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_brain_spark" / "streaming"

    def reads(node):
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    offenders = []
    for path in sorted(pkg.glob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {}  # line -> innermost enclosing function
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for line in range(fn.lineno, fn.end_lineno + 1):
                    owner[line] = fn.name
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and reads(node.func.value)
                and (path.name, owner.get(node.lineno)) not in allowed
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []


# --- job guards ---------------------------------------------------------------


def test_persisted_read_builds_fire_no_inference_jobs(spark, fts_store, ann_stores):
    """Reading a store (compacted generation, live batch, tombstones above
    the frontier) fires no job while the read is built; the persisted
    BM25 build fires only its corpus-stats action."""
    from pdf_brain_spark.streaming.ann_ingest import ivf_search_persisted
    from pdf_brain_spark.streaming.events import (
        fts_corpus_stats,
        fts_docs_dir,
        fts_search_persisted,
    )
    from pdf_brain_spark.streaming.generations import kept_index_rows

    idx, _ = fts_store
    stores, centroids = ann_stores
    keyed = [(idx, "doc_id"), (fts_docs_dir(idx), "doc_id")]
    keyed += [(store, "vec_id") for store in stores.values()]
    for store, key in keyed:
        _, jobs = _build_jobs(spark, lambda: kept_index_rows(spark, store, [key]))
        assert jobs == 0, store
    q = [0.1] * len(centroids[0])
    for store in stores.values():
        _, jobs = _build_jobs(
            spark, lambda: ivf_search_persisted(spark, store, centroids, q, k=5, n_probes=2)
        )
        assert jobs == 0, store
    _, stats_jobs = _build_jobs(spark, lambda: fts_corpus_stats(spark, idx).collect())
    _, jobs = _build_jobs(spark, lambda: fts_search_persisted(spark, idx, TERMS, k=10))
    assert jobs == stats_jobs, (jobs, stats_jobs)


def test_persisted_bm25_build_after_compaction_fires_two_jobs(spark, fts_compacted):
    """One live generation per store: the build is the stats action's
    exchange and result jobs, nothing more."""
    from pdf_brain_spark.operators.fts import bm25_scores
    from pdf_brain_spark.streaming.events import fts_search_persisted

    idx, live = fts_compacted
    df, jobs = _build_jobs(spark, lambda: fts_search_persisted(spark, idx, TERMS, k=10))
    assert jobs <= 2, jobs
    assert _rows(df) == _rows(bm25_scores(live, TERMS, k=10))


def test_kept_rows_drop_a_row_iff_a_tombstone_floor_covers_it(spark, fts_retombstoned, fts_store):
    """A row is dead iff some tombstone for its key has a floor >= the
    row's coverage: with a key tombstoned twice, a key re-inserted above
    its floor, and tombstones below and at a row's coverage, the kept
    rows equal that predicate evaluated on the raw store. Both key
    stores build with no job, and the corpus-stats action pays one
    broadcast for the tombstones (no aggregate ahead of it)."""
    from pdf_brain_spark.streaming.events import fts_corpus_stats, fts_docs_dir
    from pdf_brain_spark.streaming.generations import (
        _tombstone_dirs,
        kept_index_rows,
        live_generation_dirs,
        read_generation_dirs,
    )

    idx, key = fts_retombstoned
    for store in (idx, fts_docs_dir(idx)):
        raw = read_generation_dirs(spark, live_generation_dirs(spark, store), store)
        floors = {}
        for k, name in _tombstone_dirs(spark, store):
            for r in read_generation_dirs(spark, [f"{store}/{name}"]).collect():
                floors.setdefault(r["doc_id"], []).append(k)
        assert floors[key["A"]] == [1, 2] and floors[key["B"]] == [1]

        def alive(r):
            return all(f < r["batch_id"] for f in floors.get(r["doc_id"], []))

        want = sorted(tuple(r) for r in raw.collect() if alive(r))
        kept, jobs = _build_jobs(spark, lambda: kept_index_rows(spark, store, ["doc_id"]))
        assert jobs == 0, store
        assert kept.columns == raw.columns
        got = sorted(tuple(r) for r in kept.collect())
        assert got == want, store
        by_doc = {}
        for r in kept.select("doc_id", "batch_id").distinct().collect():
            by_doc.setdefault(r["doc_id"], []).append(r["batch_id"])
        assert key["A"] not in by_doc and key["D"] not in by_doc
        assert by_doc[key["B"]] == [3] and by_doc[key["C"]] == [2]

    # an aggregate over the tombstones ahead of their broadcast adds a job to each
    _, four = _build_jobs(spark, lambda: fts_corpus_stats(spark, idx).collect())
    _, tombstoned = _build_jobs(spark, lambda: fts_corpus_stats(spark, fts_store[0]).collect())
    assert (four, tombstoned) == (7, 7)


# --- query-term edge cases ------------------------------------------------------


def test_persisted_bm25_no_match_and_partial_match(spark, fts_store):
    from pdf_brain_spark.operators.fts import bm25_scores
    from pdf_brain_spark.streaming.events import fts_search_persisted

    idx, live = fts_store
    none = fts_search_persisted(spark, idx, ["zzqx", "qqzv"], k=10)
    assert none.collect() == [] and bm25_scores(live, ["zzqx", "qqzv"], k=10).collect() == []
    assert none.columns == ["doc_id", "bm25", "terms_matched"]

    one_of_three = ["spark", "zzqx", "qqzv"]
    got = _rows(fts_search_persisted(spark, idx, one_of_three, k=10))
    assert got == _rows(bm25_scores(live, one_of_three, k=10)) and got
    got = _rows(fts_search_persisted(spark, idx, TERMS, k=10))
    assert got == _rows(bm25_scores(live, TERMS, k=10)) and got
