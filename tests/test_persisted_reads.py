"""Persisted-index reads: every generation store is read through one
footer-schema helper (streaming/generations.py::read_generation_dirs),
and the persisted BM25 read builds with only its corpus-stats action."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
TERMS = ["spark", "shuffle", "join"]


def _live_dirs(spark, store):
    """Paths of a store's live generations."""
    from pdf_brain_spark.streaming.generations import list_store

    ls = list_store(spark, store)
    return ls.dirs(ls.live)


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
def fts_two_live(spark, docs, tmp_path_factory):
    """Two live batch generations, no compaction, no takedown."""
    from pdf_brain_spark.streaming.events import make_fts_postings_batch_fn

    idx = str(tmp_path_factory.mktemp("two_live") / "fts")
    fn = make_fts_postings_batch_fn(idx)
    for b in range(2):
        fn(docs.filter(F.col("doc_id") % 2 == b), b)
    return idx, docs


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
    from pdf_brain_spark.streaming.events import ROLLUP, backfill_rollup
    from pdf_brain_spark.streaming.generations import (
        list_store,
        read_generation_dirs,
    )

    idx, _ = fts_store
    stores, _ = ann_stores
    cases = []  # (label, dirs, base_path)
    for store in (idx, *stores.values()):
        live = _live_dirs(spark, store)
        assert any("batch_id=-" in d for d in live), live  # a compacted generation
        cases.append((store, live, store))
        cases.append((f"{store} compacted", [live[0]], store))
        tombs = list_store(spark, store).overlays
        assert tombs
        cases += [(f"{store}/{name}", [f"{store}/{name}"], None) for _, name in tombs]

    ev = load_table(spark, "events", SF).select("event_id", "event_type", "ts", "value")
    roll = str(tmp_path / "rollup")
    fn = ROLLUP.batch_fn(roll)
    for b in range(2):
        fn(ev.filter(F.col("event_id") % 2 == b), b)
    backfill_rollup(spark, roll, ev.filter(F.col("event_id") % 4 == 0), floor_batch_id=1)
    floors = [f"{roll}/backfill_floor={k}" for k in list_store(spark, roll).floors]
    assert floors
    cases.append((f"{roll} backfill", floors, roll))
    cases.append((f"{roll} additive", _live_dirs(spark, roll), roll))

    for label, dirs, base in cases:
        got = read_generation_dirs(spark, dirs, base)
        want = _inferred(spark, dirs, base)
        assert got.schema == want.schema, label
    elem = {
        t: read_generation_dirs(spark, _live_dirs(spark, d), d)
        .schema["embedding"]
        .dataType.elementType.typeName()
        for t, d in stores.items()
    }
    assert elem == {"float": "float", "double": "double"}
    # rows too, on the hive-partitioned FTS store (repr orders a NULL term)
    live = _live_dirs(spark, idx)
    assert sorted(read_generation_dirs(spark, live, idx).collect(), key=repr) == sorted(
        _inferred(spark, live, idx).collect(), key=repr
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


def test_persisted_read_builds_fire_no_inference_jobs(spark, fts_store, ann_stores, jobs_fired):
    """Reading a store (compacted generation, live batch, tombstones above
    the frontier) fires no job while the read is built; the persisted
    BM25 build fires only its corpus-stats action."""
    from pdf_brain_spark.streaming.ann_ingest import IVF_INDEX, ivf_search_persisted
    from pdf_brain_spark.streaming.events import FTS_INDEX, fts_corpus_stats, fts_search_persisted

    idx, _ = fts_store
    stores, centroids = ann_stores
    keyed = [(idx, FTS_INDEX)]
    keyed += [(store, IVF_INDEX) for store in stores.values()]
    for store, decl in keyed:
        _, jobs = jobs_fired(lambda: decl.kept(spark, store))
        assert jobs == 0, store
    q = [0.1] * len(centroids[0])
    for store in stores.values():
        _, jobs = jobs_fired(
            lambda: ivf_search_persisted(spark, store, centroids, q, k=5, n_probes=2)
        )
        assert jobs == 0, store
    _, stats_jobs = jobs_fired(lambda: fts_corpus_stats(spark, idx).collect())
    _, jobs = jobs_fired(lambda: fts_search_persisted(spark, idx, TERMS, k=10))
    assert jobs == stats_jobs, (jobs, stats_jobs)


@pytest.mark.parametrize(
    "state, bound",
    [("fts_compacted", 2), ("fts_two_live", 3), ("fts_store", 4)],
)
def test_persisted_bm25_build_jobs_per_read_state(spark, request, state, bound, jobs_fired):
    """Jobs a repeated persisted BM25 build fires, per store state: one
    live (compacted) generation, two live batch generations, and a
    tombstone above the compaction frontier. The build is the stats
    action (and, with a tombstone, its broadcast) over the doc-grain
    partition, nothing more; a second build of the same state fires no
    more than the first."""
    from pdf_brain_spark.operators.fts import bm25_scores
    from pdf_brain_spark.streaming.events import fts_search_persisted

    idx, live = request.getfixturevalue(state)
    for _ in range(2):
        df, jobs = jobs_fired(lambda: fts_search_persisted(spark, idx, TERMS, k=10))
        assert jobs <= bound, (state, jobs)
    assert _rows(df) == _rows(bm25_scores(live, TERMS, k=10))


def test_kept_rows_drop_a_row_iff_a_tombstone_floor_covers_it(
    spark, fts_retombstoned, fts_store, jobs_fired
):
    """A row is dead iff some tombstone for its key has a floor >= the
    row's coverage: with a key tombstoned twice, a key re-inserted above
    its floor, and tombstones below and at a row's coverage, the kept
    rows equal that predicate evaluated on the raw store. The read builds
    with no job, and the corpus-stats action pays one broadcast for the
    tombstones (no aggregate ahead of it)."""
    from pdf_brain_spark.streaming.events import FTS_INDEX, fts_corpus_stats
    from pdf_brain_spark.streaming.generations import (
        list_store,
        read_generation_dirs,
    )

    idx, key = fts_retombstoned
    raw = read_generation_dirs(spark, _live_dirs(spark, idx), idx)
    floors = {}
    for k, name in list_store(spark, idx).overlays:
        for r in read_generation_dirs(spark, [f"{idx}/{name}"]).collect():
            floors.setdefault(r["doc_id"], []).append(k)
    assert floors[key["A"]] == [1, 2] and floors[key["B"]] == [1]

    def alive(r):
        return all(f < r["batch_id"] for f in floors.get(r["doc_id"], []))

    want = sorted((tuple(r) for r in raw.collect() if alive(r)), key=repr)
    kept, jobs = jobs_fired(lambda: FTS_INDEX.kept(spark, idx))
    assert jobs == 0
    assert kept.columns == raw.columns
    got = sorted((tuple(r) for r in kept.collect()), key=repr)
    assert got == want
    by_doc = {}
    for r in kept.select("doc_id", "batch_id").distinct().collect():
        by_doc.setdefault(r["doc_id"], []).append(r["batch_id"])
    assert key["A"] not in by_doc and key["D"] not in by_doc
    assert by_doc[key["B"]] == [3] and by_doc[key["C"]] == [2]

    # an aggregate over the tombstones ahead of their broadcast adds a job to each
    _, four = jobs_fired(lambda: fts_corpus_stats(spark, idx).collect())
    _, tombstoned = jobs_fired(lambda: fts_corpus_stats(spark, fts_store[0]).collect())
    assert (four, tombstoned) == (4, 4)


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


# --- one listing per operation --------------------------------------------------


@pytest.fixture
def listed(monkeypatch):
    """The paths every `listStatus` of the generation lifecycle lists, in
    call order (a counting wrapper around `generations._fs`)."""
    from pdf_brain_spark.streaming import generations

    paths = []
    real_fs = generations._fs

    class CountingFs:
        def __init__(self, fs):
            self._fs = fs

        def listStatus(self, path):
            paths.append(str(path.toString()))
            return self._fs.listStatus(path)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def counting_fs(spark, path):
        HPath, fs = real_fs(spark, path)
        return HPath, CountingFs(fs)

    monkeypatch.setattr(generations, "_fs", counting_fs)
    return paths


def test_persisted_read_builds_list_the_store_root_once(spark, listed, fts_store, ann_stores):
    """A persisted BM25 build and a persisted IVF build each list the store
    root once, on a store with two live generations and a tombstone above
    the compaction frontier: the generations, the frontier, the
    tombstones and the layout marker all come from that one listing."""
    from pdf_brain_spark.streaming import generations
    from pdf_brain_spark.streaming.ann_ingest import ivf_search_persisted
    from pdf_brain_spark.streaming.events import fts_search_persisted

    idx, _ = fts_store
    stores, centroids = ann_stores
    builds = {idx: lambda: fts_search_persisted(spark, idx, TERMS, k=10)}
    q = [0.1] * len(centroids[0])
    for store in stores.values():
        builds[store] = lambda store=store: ivf_search_persisted(
            spark, store, centroids, q, k=5, n_probes=2
        )
    for store, build in builds.items():
        ls = generations.list_store(spark, store)
        assert len(ls.live) == 2 and ls.m_star >= 0 and ls.floors[-1] > ls.m_star
        listed.clear()
        build()
        assert listed.count(store) == 1, (store, listed)


def test_index_delete_and_compaction_listings_do_not_grow_with_generations(
    spark, listed, tmp_path
):
    """A row-index delete and compaction make as many `listStatus` calls
    on a store with 5 live generations as on one with 1: row-index
    generations carry no write-sequence marker, whose next value would be
    found by listing every generation dir."""
    from pdf_brain_spark.streaming.events import BAND_INDEX

    def listings(n_gens):
        idx = str(tmp_path / f"band_{n_gens}")
        for b in range(n_gens):
            rows = spark.createDataFrame(
                [(b * 10 + i, i % 3, f"{b}-{i}") for i in range(4)],
                "doc_id long, band int, bucket string",
            )
            BAND_INDEX.write(spark, BAND_INDEX.listing(spark, idx), rows, b)
        keys = spark.createDataFrame([(0,), (1,)], "doc_id long")
        listed.clear()
        BAND_INDEX.delete(spark, idx, keys, n_gens - 1)
        n_delete = len(listed)
        listed.clear()
        assert BAND_INDEX.compact(spark, idx, n_gens - 1) == n_gens + 1
        return n_delete, len(listed)

    assert listings(1) == listings(5)


def test_fts_store_in_the_two_store_layout_raises_by_name(spark, tmp_path):
    """An FTS store written in the earlier two-store layout — postings with
    a NULL-term marker row per document in bucket 0, no doc-grain
    partition, and the unversioned `_TERM_BUCKETS.8` marker — raises a
    named error on read, ingest, delete and compaction, where its stats
    arm would otherwise find no doc-grain rows and serve N = 0 as an empty
    result."""
    from pdf_brain_spark.streaming.events import (
        compact_fts_index,
        delete_fts_documents,
        fts_search_persisted,
        make_fts_postings_batch_fn,
        portable_term_bucket,
    )
    from pdf_brain_spark.streaming.generations import PROTOCOL_MARKER

    idx = tmp_path / "fts"
    rows = [
        (1, "spark", 2, 1, portable_term_bucket("spark")),
        (1, "joins", 2, 1, portable_term_bucket("joins")),
        (1, None, 2, 0, 0),
        (2, "spark", 1, 1, portable_term_bucket("spark")),
        (2, None, 1, 0, 0),
    ]
    schema = "doc_id long, term string, doc_len int, tf long, term_bucket int"
    spark.createDataFrame(rows, schema).write.partitionBy("term_bucket").parquet(
        str(idx / "batch_id=0")
    )
    for marker in (PROTOCOL_MARKER, "_TERM_BUCKETS.8"):
        (idx / marker).write_text("")
    docs = spark.createDataFrame([(3, "spark")], "doc_id long, text string")
    ops = [
        lambda: fts_search_persisted(spark, str(idx), ["spark"], k=10),
        lambda: make_fts_postings_batch_fn(str(idx))(docs, 1),
        lambda: delete_fts_documents(spark, str(idx), docs.select("doc_id"), 0),
        lambda: compact_fts_index(spark, str(idx), upto_batch_id=0),
    ]
    for op in ops:
        with pytest.raises(ValueError, match="earlier layout.*Rebuild"):
            op()
    assert sorted(p.name for p in idx.iterdir() if not p.name.startswith(".")) == [
        PROTOCOL_MARKER, "_TERM_BUCKETS.8", "batch_id=0"
    ]
