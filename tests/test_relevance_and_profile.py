"""Rank fusion, PRF expansion, column profiling, contrastive pairs, and
the streaming term-count store — planted-answer unit tests."""

from pyspark.sql import functions as F


def test_rrf_fuse_consensus_and_single_arm(spark):
    """A doc ranked in BOTH arms outscores the top single-arm doc when
    ranks are comparable; keys missing from an arm contribute 0; n_arms
    counts membership."""
    from pdf_brain_spark.operators.relevance import rrf_fuse

    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(11, 1), (13, 2)], "doc_id long, rank int")
    rows = {r["doc_id"]: r for r in rrf_fuse([a, b], "doc_id", limit=10).collect()}
    # doc 11: 1/62 + 1/61; doc 10: 1/61 only -> 11 wins despite 10 leading arm a
    assert rows[11]["n_arms"] == 2 and rows[10]["n_arms"] == 1
    assert rows[11]["rrf_score"] > rows[10]["rrf_score"]
    assert abs(rows[11]["rrf_score"] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert abs(rows[13]["rrf_score"] - round(1 / 62, 6)) < 1e-9
    order = [
        r["doc_id"]
        for r in rrf_fuse([a, b], "doc_id", limit=10)
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .collect()
    ]
    assert order[0] == 11


def test_prf_expansion_mines_feedback_terms(spark):
    """Planted corpus: the query matches docs whose shared vocabulary
    contains a frequent long term; PRF must pick that term (not the
    query terms, not short tokens) and the expanded search must then
    surface a doc that matches ONLY the expansion term."""
    from pdf_brain_spark.operators.relevance import prf_expansion_terms, prf_search
    from pdf_brain_spark.operators.fts import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark joins with catalyst optimizer and catalyst rules"),
            (2, "spark shuffle catalyst planning catalyst costs"),
            (3, "catalyst only document about catalyst internals"),
            (4, "unrelated words entirely different topic here"),
        ],
        "doc_id long, text string",
    )
    first = bm25_scores(docs, ["spark"], k=2)
    terms = prf_expansion_terms(docs, first.select("doc_id"), ["spark"], fb_terms=1)
    assert terms == ["catalyst"]
    expanded_hits = {r["doc_id"] for r in prf_search(docs, ["spark"], fb_docs=2, fb_terms=1, k=4).collect()}
    assert 3 in expanded_hits  # reachable only through the mined term
    assert 4 not in expanded_hits


def test_column_profile_counts(spark):
    from pdf_brain_spark.operators.analytics import column_profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5), (3, None, 5), (4, "b", 5)],
        "id long, s string, v int",
    )
    rows = {r["column_name"]: r for r in column_profile(df, ["id", "s", "v"]).collect()}
    assert rows["id"]["n_rows"] == 4 and rows["id"]["n_nulls"] == 0 and rows["id"]["n_distinct"] == 4
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["v"]["n_nulls"] == 1 and rows["v"]["n_distinct"] == 1


def test_contrastive_pairs_halves_roundtrip(spark):
    """The emitted digests must equal md5 of the actual token halves,
    and short docs are excluded."""
    import hashlib

    from pdf_brain_spark.queries import get_queries, lookup_query

    toks = [f"tok{i}" for i in range(21)]
    text = " ".join(toks)
    # drive the registered query end-to-end on a tiny staged sf dir?
    # Simpler: compute the same plan inline on a 2-row frame.
    from pdf_brain_spark.functions.text import tokenize

    docs = spark.createDataFrame(
        [(7, text), (8, "too short")], "doc_id long, text string"
    )
    toked = docs.select("doc_id", tokenize("text").alias("_toks"))
    n = F.size("_toks")
    half = F.floor(n / 2).cast("int")
    out = (
        toked.filter(n >= 20)
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("_toks", 1, half), " ")).alias("a"),
            F.md5(F.array_join(F.slice("_toks", half + 1, n - half), " ")).alias("p"),
        )
        .collect()
    )
    assert len(out) == 1 and out[0]["doc_id"] == 7
    want_a = hashlib.md5(" ".join(toks[:10]).encode()).hexdigest()
    want_p = hashlib.md5(" ".join(toks[10:]).encode()).hexdigest()
    assert out[0]["a"] == want_a and out[0]["p"] == want_p


def test_streaming_term_counts_replay_merge_compact(spark, tmp_path):
    """Generation-store term counts: replay leaves partials identical,
    served top-k equals the one-shot count, compaction preserves it."""
    from pdf_brain_spark.streaming.events import TERM_COUNTS, read_top_terms
    from pdf_brain_spark.streaming.generations import list_store

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),
            (2, "beta gamma beta alpha"),
            (3, "gamma gamma delta"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "terms")
    fn = TERM_COUNTS.batch_fn(store)
    fn(docs.filter(F.col("doc_id") <= 2), 0)
    fn(docs.filter(F.col("doc_id") == 3), 1)

    def snapshot():
        return sorted(
            (r["batch_id"], r["term"], r["n_partial"])
            for r in spark.read.option("basePath", store).parquet(store).collect()
        )

    before = snapshot()
    fn(docs.filter(F.col("doc_id") == 3), 1)  # crash replay
    assert snapshot() == before

    def served():
        return [(r["term"], r["n"]) for r in read_top_terms(spark, store, k=10).collect()]

    want = [("alpha", 3), ("beta", 3), ("gamma", 3), ("delta", 1)]
    assert served() == want
    assert TERM_COUNTS.compact(spark, store, upto_batch_id=1) == 2
    assert list_store(spark, store).raw == [-2]
    assert served() == want


def test_snapshot_diff_change_types(spark):
    """Planted snapshots: one delete, one update, one insert, unchanged
    rows dropped; digests present only on the existing side."""
    from pdf_brain_spark.operators.ingest import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed"), (4, "brand new")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    assert set(rows) == {2, 3, 4}
    assert rows[2]["change_type"] == "update" and rows[2]["old_md5"] != rows[2]["new_md5"]
    assert rows[3]["change_type"] == "delete" and rows[3]["new_md5"] is None
    assert rows[4]["change_type"] == "insert" and rows[4]["old_md5"] is None


def test_pagerank_exact_int_hand_computed(spark):
    """Hand-computed integer recurrence on a 4-node graph, including an
    out-degree-2 node whose contribution halves (integer div)."""
    from pdf_brain_spark.operators.taxonomy import pagerank_exact_int

    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (4, 3)], "node long, parent long"
    )
    # N=4, scale=1e9: r0=250_000_000, base=(15e9)//400=37_500_000
    # iter1: r(1)=37.5M+(85*(250M+250M))//100=462_500_000
    #        r(2)=r(3)=37.5M+(85*(250M//2))//100=143_750_000
    #        r(4)=37_500_000 (no in-edges)
    got = {r["node"]: r["rank_nano"] for r in pagerank_exact_int(edges, n_iter=1).collect()}
    assert got == {1: 462_500_000, 2: 143_750_000, 3: 143_750_000, 4: 37_500_000}

    # two iterations on the chain 4->2->1, 3->1 (all out-degree 1)
    edges2 = spark.createDataFrame([(2, 1), (3, 1), (4, 2)], "node long, parent long")
    got2 = {r["node"]: r["rank_nano"] for r in pagerank_exact_int(edges2, n_iter=2).collect()}
    # iter1: r1(1)=462.5M, r1(2)=250M, r1(3)=r1(4)=37.5M
    # iter2: r2(1)=37.5M+(85*(250M+37.5M))//100=281_875_000
    #        r2(2)=37.5M+(85*37.5M)//100=69_375_000; r2(3)=r2(4)=37.5M
    assert got2 == {1: 281_875_000, 2: 69_375_000, 3: 37_500_000, 4: 37_500_000}


def test_unigram_perplexity_planted(spark, tmp_path):
    """Hand-mirror of the micro-nat pipeline on a 2-doc corpus: the doc
    made of rare tokens scores higher perplexity than the doc of the
    dominant token."""
    import math

    docs = spark.createDataFrame(
        [(1, "a a a a a a"), (2, "b c d e f g")], "doc_id long, text string"
    )
    out_dir = str(tmp_path / "docs")
    docs.write.parquet(out_dir)
    # mirror the registered query inline (it loads documents from sf_dir)
    from pdf_brain_spark.functions.text import tokenize

    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    total = 12
    lp = {"a": round(math.log(6 / total) * 1e6)}
    for t in "bcdefg":
        lp[t] = round(math.log(1 / total) * 1e6)
    rows = (
        toks.groupBy("doc_id", "term").count().collect()
    )
    s = {1: 0, 2: 0}
    for r in rows:
        s[r["doc_id"]] += lp[r["term"]] * r["count"]
    ppl1 = math.exp(-s[1] / (1e6 * 6))
    ppl2 = math.exp(-s[2] / (1e6 * 6))
    assert ppl1 < ppl2  # dominant-token doc is "fluent" under the corpus LM
    assert abs(ppl1 - 2.0) < 0.01  # p=1/2 per token -> ppl ~ 2
    assert abs(ppl2 - 12.0) < 0.01  # p=1/12 per token -> ppl ~ 12


def test_snapshot_diff_boundary_and_null_payloads(spark):
    """Digest integrity: column boundaries must not erase (("ab","") vs
    ("a","b") IS an update) and NULL-to-empty must be visible."""
    from pdf_brain_spark.operators.ingest import snapshot_diff

    old = spark.createDataFrame(
        [(1, "ab", ""), (2, None, "x")], "doc_id long, a string, b string"
    )
    new = spark.createDataFrame(
        [(1, "a", "b"), (2, "", "x")], "doc_id long, a string, b string"
    )
    rows = {
        r["doc_id"]: r["change_type"]
        for r in snapshot_diff(old, new, payload_cols=("a", "b")).collect()
    }
    assert rows == {1: "update", 2: "update"}


def test_rnn_pairs_are_mutual_and_symmetric(spark, tmp_path):
    """Planted geometry driven through the REGISTERED gate (staged
    sf_dir): tight twin pairs produce mutual edges ordered a < b with
    both rank directions; a point whose neighbor does not reciprocate
    at rank 1 still pairs when reciprocation happens within top-5, and
    rank_ab/rank_ba record the asymmetry."""
    from pdf_brain_spark.queries import lookup_query

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.14, 0.0, 0.0]),   # twin of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.14, 0.99, 0.0, 0.0]),   # twin of 3
        (5, [0.0, 0.0, 1.0, 0.0]),     # off-axis: reciprocates weakly
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        (r["vec_id_a"], r["vec_id_b"]): (r["rank_ab"], r["rank_ba"], r["score"])
        for r in lookup_query("reciprocal_nearest_neighbors")(spark, str(tmp_path)).collect()
    }
    # with only 5 points, everyone is in everyone's top-5: all C(5,2)
    # pairs are mutual, but the RANKS must reflect the planted geometry
    assert (1, 2) in got and got[(1, 2)][0] == 1 and got[(1, 2)][1] == 1
    assert (3, 4) in got and got[(3, 4)][0] == 1 and got[(3, 4)][1] == 1
    assert all(a < b for a, b in got)  # canonical edge orientation
    assert got[(1, 2)][2] > got[(1, 5)][2]  # twin scores beat cross-pairs


def test_session_path_signature_planted(spark, tmp_path):
    """Planted sessions driven through the REGISTERED gate (staged
    sf_dir): ordering inside a session, the 8-step cap, and the
    30-minute session break all shape the signature — if the gate's
    gap rule or slice bound drifts, THIS test fails, not just the
    driver's oracle compare."""
    from datetime import datetime, timedelta

    from pdf_brain_spark.queries import lookup_query

    t0 = datetime(2024, 5, 1, 9, 0, 0)
    rows = []
    # user 1, one session: view > click > purchase
    for i, t in enumerate(["view", "click", "purchase"]):
        rows.append((i, 1, t, t0 + timedelta(minutes=i), 0.0))
    # user 1, second session 2h later: view > view
    rows.append((10, 1, "view", t0 + timedelta(hours=2), 0.0))
    rows.append((11, 1, "view", t0 + timedelta(hours=2, minutes=1), 0.0))
    # user 2: ten views -> capped at 8 steps
    for i in range(10):
        rows.append((20 + i, 2, "view", t0 + timedelta(minutes=i), 0.0))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["path"]: r["n_sessions"]
        for r in lookup_query("session_path_signatures")(spark, str(tmp_path)).collect()
    }
    assert got == {
        "view>click>purchase": 1,
        "view>view": 1,
        ">".join(["view"] * 8): 1,
    }


def test_bm25f_plan_is_shuffle_free(spark):
    """The BM25F query plan must stay map-side: per-field tf via token-
    array slices, one TakeOrdered — zero exchanges (the bm25_scores
    zero-shuffle property, preserved through the two-field extension)."""
    import re

    from pdf_brain_spark.queries import get_queries, lookup_query

    df = lookup_query("bm25f_search")(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(
        re.findall(
            r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)", plan
        )
    )
    assert n_ex == 0, f"bm25f plan gained {n_ex} exchanges:\n{plan[:2000]}"
    assert "TakeOrderedAndProject" in plan


def test_bloom_audit_probe_side_is_broadcast(spark):
    """The Bloom audit's probe joins (words lookup and truth join) must
    be broadcast — the runtime-filter shape that replaces a shuffled
    semi-join with a scan-side filter — and the orders date predicate
    must reach the scan."""
    from pdf_brain_spark.queries import get_queries, lookup_query

    df = lookup_query("bloom_semijoin_audit")(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    # (the orders date pushdown is invisible here — buyers checkpoints
    # before this plan; PLANS_r08.md pins it from the pre-checkpoint scan)


def test_bm25f_degenerate_inputs(spark):
    """ADVICE r8: an empty corpus must early-return an empty frame (not
    TypeError on NULL avg lengths), and a corpus where every doc fits
    inside the title slice (body field empty everywhere → avgdlb = 0)
    must yield finite scores, never 0.0/0.0 = NaN."""
    import math

    from pdf_brain_spark.operators.fts import bm25f_scores

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25f_scores(empty, ["needle"])
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "bm25f", "terms_matched"}

    short = spark.createDataFrame(
        [(1, "needle in title"), (2, "no match here"), (3, "needle")],
        "doc_id long, text string",
    )
    rows = bm25f_scores(short, ["needle"]).collect()
    assert rows, "short-doc corpus returned no rows"
    for r in rows:
        assert not math.isnan(r["bm25f"]), f"NaN score for doc {r['doc_id']}"
    top = rows[0]
    assert top["terms_matched"] == 1 and top["bm25f"] > 0.0
