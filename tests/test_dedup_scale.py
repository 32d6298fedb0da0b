"""Scale-posture tests for the dedup suite: banding recall at the verify
threshold, stop-shingle df capping, and join-shape guarantees (no
nested-loop joins, no driver collect of fact tables)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _mid_similarity_corpus(spark, n_pairs: int = 20, overlap: int = 30, extra: int = 30):
    """Docs in pairs with known mid-range Jaccard: each pair shares
    `overlap` tokens of vocabulary and has `extra` private tokens each, so
    3-gram shingle Jaccard lands around 0.1-0.3 (the range the 4x4 banding
    config structurally missed). Deterministic content via seeded RNG."""
    rng = random.Random(1234)
    vocab = [f"tok{i}" for i in range(5000)]
    rows = []
    for p in range(n_pairs):
        shared = " ".join(rng.choice(vocab) for _ in range(overlap))
        a_extra = " ".join(rng.choice(vocab) for _ in range(extra))
        b_extra = " ".join(rng.choice(vocab) for _ in range(extra))
        rows.append((2 * p, f"{shared} {a_extra}"))
        rows.append((2 * p + 1, f"{shared} {b_extra}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_banding_recall_at_mid_jaccard(spark):
    """8 bands x 2 rows must surface a solid fraction of ~0.1-0.3-Jaccard
    pairs (s-curve midpoint ~0.35). The planted pair ids are (2p, 2p+1)."""
    from pdf_brain_spark.operators.dedup import minhash_verified_pairs

    docs = _mid_similarity_corpus(spark)
    found = minhash_verified_pairs(docs, threshold=0.05).collect()
    planted = {(2 * p, 2 * p + 1) for p in range(20)}
    hits = {(r["doc_a"], r["doc_b"]) for r in found} & planted
    # deterministic given the fixed hash family; planted pairs sit at
    # J ~ 0.3 where 8x2 capture is ~50% — require at least 6/20 so a
    # regression back to a ~0.7-midpoint config (expected hits ~0) fails
    assert len(hits) >= 6, f"only {len(hits)}/20 planted mid-similarity pairs found"
    # every reported jaccard is exact (verify stage), not an estimate
    for r in found:
        assert 0.0 <= r["jaccard"] <= 1.0


def test_shingle_df_cap_drops_stop_shingles(spark):
    """A shingle shared by every doc must not emit O(n^2) pairs when the
    cap binds: with df_cap below the corpus size, unrelated docs that share
    ONLY the stop-shingle produce no pair at all."""
    from pdf_brain_spark.operators.dedup import ngram_jaccard_pairs

    stop = "the quick brown fox"  # one shared 4-token run => shared 3-grams
    rows = [(i, f"{stop} private{i}a private{i}b private{i}c") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(docs, threshold=0.01, df_cap=1000)
    capped = ngram_jaccard_pairs(docs, threshold=0.01, df_cap=10)
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    assert n_uncapped == 30 * 29 // 2  # all pairs share the stop shingles
    assert n_capped == 0  # cap binds -> stop-shingle pairs never generated


def test_simhash_pairs_plan_is_equi_join(spark):
    """Manku banding must produce an equi-join plan — a
    BroadcastNestedLoopJoin here means the O(n^2) theta join came back."""
    from pdf_brain_spark.operators.dedup import simhash_near_dup_pairs

    rows = [(i, f"some words number {i} " * 5) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = simhash_near_dup_pairs(docs, max_hamming=8)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banding_is_complete(spark):
    """Pigeonhole completeness: banded candidate generation + hamming
    verify must equal the exhaustive O(n^2) pair set."""
    from pdf_brain_spark.operators.dedup import simhash_fingerprints, simhash_near_dup_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(30)]
        rows.append((2 * i, " ".join(base)))
        # near-dup: a couple of token substitutions => small hamming
        mutated = list(base)
        mutated[3] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mutated)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_pairs(docs, max_hamming=8).collect()
    }
    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs, bits=60).collect()}
    exhaustive = {
        (a, b)
        for a in fp
        for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= 8
    }
    assert banded == exhaustive


def test_embedding_near_dup_no_driver_collect(spark):
    """Block self-join: results must match the exact all-pairs answer and
    the plan must be a grouped Pandas op (distributed tiles), with no
    collect() of the embeddings in the operator itself."""
    import numpy as np

    from pdf_brain_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(99)
    vecs = rng.standard_normal((60, 8))
    # plant near-dups: vec 2i+1 = slightly-perturbed vec 2i for first 10
    for i in range(10):
        vecs[2 * i + 1] = vecs[2 * i] + 0.01 * rng.standard_normal(8)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(emb, threshold=0.9, n_blocks=4).collect()
    }
    # exact reference
    m = np.array([np.asarray(v, dtype=np.float32) for _, v in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    want = {
        (a, b)
        for a in range(60)
        for b in range(a + 1, 60)
        if sims[a, b] >= 0.9
    }
    assert set(got) == want
    assert len(want) >= 10  # the planted near-dups are all found
    plan = embedding_near_dup_pairs(emb, threshold=0.9, n_blocks=4)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_embedding_near_dup_ann_subset_and_recall(spark):
    """ANN-candidates scale path invariants: every pair it returns is in
    the exact answer with an IDENTICAL similarity (re-rank is exact BLAS,
    only candidate generation approximates), and planted high-sim
    near-dups are recalled (multi-assign keeps boundary pairs together)."""
    import numpy as np

    from pdf_brain_spark.operators.dedup import (
        embedding_near_dup_ann,
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(123)
    vecs = rng.standard_normal((80, 8))
    for i in range(12):
        vecs[2 * i + 1] = vecs[2 * i] + 0.01 * rng.standard_normal(8)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(emb, threshold=0.9, n_blocks=4).collect()
    }
    ann = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_ann(
            emb, threshold=0.9, n_lists=4, n_assign=2
        ).collect()
    }
    # subset of exact, identical sims (both sides round to 6 decimals)
    assert set(ann) <= set(exact)
    for pair, sim in ann.items():
        assert sim == exact[pair]
    # planted pairs have sim ~0.9999: a perturbed twin lands in the same
    # nearest list, so recall on them must be total
    planted = {(2 * i, 2 * i + 1) for i in range(12)} & set(exact)
    assert planted <= set(ann)
    # overall recall: boundary pairs may straddle lists, but multi-assign
    # keeps the loss small on this geometry
    assert len(ann) / max(len(exact), 1) >= 0.9


def test_operator_reuse_does_not_leak_cache_entries(spark):
    """Cache-lifecycle invariant (VERDICT r3 item 3): fts and dedup
    operators materialize intermediates with localCheckpoint, not
    cache(). Two leak modes are distinguished:

      * the SQL CacheManager (df.cache) holds entries until an explicit
        unpersist — a lazy operator can never call it safely, so ANY
        entry after the runs is a leak: must stay empty;
      * localCheckpoint blocks are registered as persistent RDDs but are
        reclaimed by the ContextCleaner once the plan is garbage
        collected — so after dropping the plans and forcing GC the
        persistent-RDD count must drain back to its starting level."""
    import gc
    import time

    from pdf_brain_spark.operators.dedup import minhash_verified_pairs
    from pdf_brain_spark.operators.fts import bm25_scores, phrase_bm25_scores

    docs = _mid_similarity_corpus(spark, n_pairs=10)

    def persistent_rdd_ids() -> set[int]:
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = m.keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(int(it.next()))
        return ids

    # start from a clean slate: earlier tests in the session may hold
    # legitimate fixture caches
    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "CacheManager dirty after clearCache"
    before = persistent_rdd_ids()
    for _ in range(2):
        bm25_scores(docs, ["tok1", "tok2"], k=5).collect()
        phrase_bm25_scores(docs, "tok1 tok2", k=5).collect()
        minhash_verified_pairs(docs, threshold=0.1).collect()
    # mode 1: nothing may sit in the SQL CacheManager — those entries
    # would survive until session death
    assert cache_mgr.isEmpty(), "operator left entries in the SQL CacheManager"
    # mode 2: the RDDs the operators registered (id-set delta, so other
    # tests' RDDs draining or lingering can't skew the comparison) must
    # drain via ContextCleaner once the plans are dropped and GC runs —
    # py4j detaches flush on the next gateway call, JVM GC is advisory,
    # and the cleaner is async, so poll generously
    deadline = time.time() + 90
    leaked = persistent_rdd_ids() - before
    while leaked and time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        leaked = persistent_rdd_ids() - before
    assert not leaked, f"operator RDDs not reclaimed after GC: ids {sorted(leaked)}"


def test_incremental_lsh_matches_batch_and_reads_index(spark, tmp_path):
    """Incremental LSH (continuous-crawl shape): candidates from a stored
    band index + a new batch must equal the full-corpus banding's pairs
    restricted to new-involving ones, and the incremental plan must read
    the PERSISTED index (one parquet scan) instead of re-shingling the
    already-indexed corpus."""
    from pdf_brain_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_banded_index,
        minhash_lsh_pairs,
    )

    docs = _mid_similarity_corpus(spark, n_pairs=15, overlap=60, extra=10)
    new_ids = {i for i in range(30) if i >= 20}
    existing = docs.filter(F.col("doc_id") < 20)
    batch = docs.filter(F.col("doc_id") >= 20)

    idx = str(tmp_path / "lsh_index")
    minhash_banded_index(existing).write.parquet(idx)
    cand = incremental_lsh_candidates(spark.read.parquet(idx), minhash_banded_index(batch))

    full = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    expected = {(a, b) for a, b in full if b in new_ids}
    got = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert got == expected and expected  # non-degenerate: planted pairs exist

    # AQE prints the plan twice (Final + Initial) — count within one section
    plan = cand._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, "index side must come from the stored parquet"


# --------------------------------------------------------------------------
# duplicate_spans — substring-level (Lee et al. ExactSubstr-style) spans
# --------------------------------------------------------------------------


def _span_corpus(spark):
    """Three docs sharing a 12-token passage embedded at different offsets
    in otherwise-unique text, plus one doc whose only repetition is
    WITHIN itself, plus one fully unique doc."""
    shared = " ".join(f"common{i}" for i in range(12))
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        # shared passage at token offset 5
        (0, f"{uniq('a', 5)} {shared} {uniq('b', 6)}"),
        # shared passage at token offset 0
        (1, f"{shared} {uniq('c', 9)}"),
        # shared passage at the very end (offset 7)
        (2, f"{uniq('d', 7)} {shared}"),
        # internal repeat only: the same 10 tokens twice in ONE doc —
        # min_docs=2 counts DISTINCT docs, so this must emit nothing
        (3, f"{uniq('e', 10)} {uniq('e', 10)}"),
        (4, uniq("f", 25)),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_known_boundaries(spark):
    """A 12-token passage shared by 3 docs yields exactly one maximal
    span per doc with exact token boundaries (k=8: seeds at the 5
    positions 0..4 within the passage merge into [start, start+11])."""
    from pdf_brain_spark.operators.dedup import duplicate_spans

    out = duplicate_spans(_span_corpus(spark), k=8, min_docs=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {0, 1, 2}
    for doc_id, start in [(0, 5), (1, 0), (2, 7)]:
        r = rows[doc_id]
        assert r["span_start"] == start
        assert r["span_end"] == start + 11
        assert r["span_tokens"] == 12
        assert r["n_seeds"] == 5  # positions start..start+4


def test_duplicate_spans_within_doc_repeat_excluded(spark):
    """min_docs counts DISTINCT documents: doc 3's internal 10-token
    repeat produces no span; with min_docs=1 the repeated gram positions
    DO surface (sanity that the distinct-count is the only gate)."""
    from pdf_brain_spark.operators.dedup import duplicate_spans

    corpus = _span_corpus(spark).filter(F.col("doc_id") >= 3)
    assert duplicate_spans(corpus, k=8, min_docs=2).count() == 0
    relaxed = duplicate_spans(corpus, k=8, min_docs=1)
    # every position of doc 3 is part of SOME repeated 8-gram? no — only
    # grams fully inside either copy of the repeated block repeat; but at
    # least the two copies' aligned grams do, so doc 3 must appear
    assert {r["doc_id"] for r in relaxed.collect()} >= {3}


def test_duplicate_spans_merge_properties(spark):
    """On a random corpus with planted shared passages: spans within a
    doc are disjoint and non-touching (merge is maximal), each spans >= k
    tokens, and n_seeds is consistent with the span extent (a span of t
    tokens holds at most t-k+1 seeds)."""
    import random as _r

    from pdf_brain_spark.operators.dedup import duplicate_spans

    rng = _r.Random(77)
    vocab = [f"w{i}" for i in range(2000)]
    shared_a = " ".join(rng.choice(vocab) for _ in range(15))
    shared_b = " ".join(rng.choice(vocab) for _ in range(9))
    rows = []
    for d in range(30):
        body = [rng.choice(vocab) for _ in range(rng.randrange(20, 60))]
        txt = " ".join(body)
        if d % 2 == 0:
            txt = f"{txt} {shared_a}"
        if d % 3 == 0:
            txt = f"{shared_b} {txt}"
        rows.append((d, txt))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k = 8
    spans = duplicate_spans(docs, k=k, min_docs=2).collect()
    assert spans, "planted shared passages must surface"
    by_doc: dict[int, list] = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r["span_start"])
        for r in rs:
            assert r["span_tokens"] >= k
            assert r["span_tokens"] == r["span_end"] - r["span_start"] + 1
            assert 1 <= r["n_seeds"] <= r["span_tokens"] - k + 1
        for a, b in zip(rs, rs[1:]):
            # maximality: the next span's first seed must start more than
            # k past the previous span's last seed (else they'd merge)
            assert b["span_start"] - (a["span_end"] - k + 1) > k


def test_duplicate_spans_matches_bruteforce_reference(spark):
    """Randomized cross-check against an independent O(n²)-ish pure-
    python reference: tokenize, enumerate every positional 8-gram,
    find grams in ≥2 distinct docs, merge seed positions per doc with
    the gap-≤k rule. The distributed pipeline must produce the IDENTICAL
    span set on corpora with planted shared passages, repeated blocks,
    and overlapping shared regions."""
    import random as _r

    from pdf_brain_spark.operators.dedup import duplicate_spans

    k = 8
    rng = _r.Random(2024)
    vocab = [f"v{i}" for i in range(300)]  # small vocab → accidental overlaps
    shared = [" ".join(rng.choice(vocab) for _ in range(n)) for n in (9, 14, 22)]
    texts = {}
    for d in range(24):
        body = [rng.choice(vocab) for _ in range(rng.randrange(15, 50))]
        t = " ".join(body)
        for si, s in enumerate(shared):
            if d % (si + 2) == 0:
                t = f"{t} {s}" if d % 2 else f"{s} {t}"
        texts[d] = t
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    # ---- reference ----
    grams: dict[str, set[int]] = {}
    positions: dict[int, list[tuple[int, str]]] = {}
    for d, t in texts.items():
        toks = [x for x in t.lower().strip().split() if x]
        plist = []
        for i in range(len(toks) - k + 1):
            g = " ".join(toks[i : i + k])
            plist.append((i, g))
            grams.setdefault(g, set()).add(d)
        positions[d] = plist
    expected = set()
    for d, plist in positions.items():
        seeds = sorted(i for i, g in plist if len(grams[g]) >= 2)
        if not seeds:
            continue
        start = prev = seeds[0]
        n_seeds = 1
        for p in seeds[1:]:
            if p - prev > k:
                expected.add((d, start, prev + k - 1, prev + k - start, n_seeds))
                start, n_seeds = p, 0
            prev = p
            n_seeds += 1
        expected.add((d, start, prev + k - 1, prev + k - start, n_seeds))

    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"], r["n_seeds"])
        for r in duplicate_spans(docs, k=k, min_docs=2).collect()
    }
    assert got == expected, f"only_got={got - expected} only_expected={expected - got}"


def test_dedup_decision_report_invariants(spark):
    """Per-doc keep/drop decisions over the real corpus: every cluster
    has EXACTLY one keep (its min doc_id), every drop belongs to a
    cluster, unique docs are all keeps with NULL cluster, and the report
    covers every document exactly once."""
    from pdf_brain_spark.queries import get_queries, lookup_query

    docs_n = 500
    out = lookup_query("dedup_decision_report")(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(out) == docs_n
    assert len({r["doc_id"] for r in out}) == docs_n
    by_cluster: dict[int, list] = {}
    for r in out:
        if r["cluster_id"] is None:
            assert r["decision"] == "keep"
        else:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert by_cluster, "corpus has known duplicate clusters"
    for cid, rows in by_cluster.items():
        keeps = [r for r in rows if r["decision"] == "keep"]
        assert len(keeps) == 1
        assert keeps[0]["doc_id"] == min(r["doc_id"] for r in rows) == cid
        assert len(rows) >= 2, "a cluster implies at least one pair"


def test_cut_duplicate_spans_planted_passage(spark):
    """Corpus surgery: the planted 12-token shared passage is REMOVED
    from every doc that carries it, the surrounding unique text survives
    byte-for-byte (as the normalized token stream), and untouched docs
    pass through whole — including the within-doc-repeat doc (min_docs
    counts distinct documents) and the empty-span doc."""
    from pdf_brain_spark.operators.dedup import cut_duplicate_spans

    out = {r["doc_id"]: r for r in cut_duplicate_spans(_span_corpus(spark), k=8, min_docs=2).collect()}
    assert set(out) == {0, 1, 2, 3, 4}

    shared = " ".join(f"common{i}" for i in range(12))
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    # docs 0-2: passage cut, remainder preserved in order
    assert out[0]["clean_text"] == f"{uniq('a', 5)} {uniq('b', 6)}"
    assert out[1]["clean_text"] == uniq("c", 9)
    assert out[2]["clean_text"] == uniq("d", 7)
    for d in (0, 1, 2):
        assert out[d]["tokens_removed"] == 12
        assert out[d]["n_spans_cut"] == 1
        assert shared not in out[d]["clean_text"]
    # doc 3 (within-doc repeat) and doc 4 (unique): untouched
    assert out[3]["clean_text"] == f"{uniq('e', 10)} {uniq('e', 10)}"
    assert out[4]["clean_text"] == uniq("f", 25)
    for d in (3, 4):
        assert out[d]["tokens_removed"] == 0 and out[d]["n_spans_cut"] == 0
    # bookkeeping: n_tokens is the pre-cut token count
    assert out[0]["n_tokens"] == 23 and out[4]["n_tokens"] == 25


def test_cut_duplicate_spans_multiple_spans_per_doc(spark):
    """Two separate planted passages in one doc produce two cut regions;
    the text between them survives."""
    from pdf_brain_spark.operators.dedup import cut_duplicate_spans

    p1 = " ".join(f"x{i}" for i in range(10))
    p2 = " ".join(f"y{i}" for i in range(10))
    mid = " ".join(f"m{i}" for i in range(15))
    rows = [
        (0, f"{p1} {mid} {p2}"),
        (1, f"{p1} unrelated tail tokens here now"),
        (2, f"lead tokens before {p2}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in cut_duplicate_spans(docs, k=8, min_docs=2).collect()}
    assert out[0]["n_spans_cut"] == 2
    assert out[0]["tokens_removed"] == 20
    assert out[0]["clean_text"] == mid


def test_novelty_scores_planted(spark):
    """Known answers on the span corpus: the fully-unique doc scores
    novelty 1.0; docs sharing the planted passage lose exactly the
    grams fully inside it; short docs (< k tokens) report NULL."""
    from pdf_brain_spark.operators.dedup import novelty_scores

    corpus = _span_corpus(spark)
    short = spark.createDataFrame([(9, "too short")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in novelty_scores(corpus.union(short), k=8).collect()}
    assert out[4]["novelty"] == 1.0
    assert out[9]["n_grams"] == 0 and out[9]["novelty"] is None
    # doc 1: 21 tokens -> 14 grams; the 12-token shared passage at
    # offset 0 contributes 5 grams (starts 0..4) duplicated in docs 0/2
    assert out[1]["n_grams"] == 14
    assert out[1]["n_novel"] == 9
    assert out[1]["novelty"] == round(9 / 14, 6)


def test_winnowing_local_guarantee_and_short_docs(spark):
    """Schleimer et al. 2003 §4: every window of w consecutive grams must
    contain at least one selected fingerprint (the local guarantee that
    makes winnowing usable for plagiarism/dedup detection), ties go to
    the rightmost minimum, and sub-w documents degrade to their single
    truncated window's min. Verified against a direct python model."""
    import hashlib

    from pdf_brain_spark.operators.dedup import winnowing_fingerprints

    k, w = 4, 4
    docs = [
        (0, "a b c d e f g h i j k l m n o p"),          # long doc
        (1, "x x x x x x x x"),                            # all-tie doc
        (2, "one two three four five"),                    # n_grams = 2 < w
        (3, "t1 t2 t3 t4"),                                # exactly one gram
        (4, "too short"),                                  # filtered out
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["pos"], r["fp_hash"])
        for r in winnowing_fingerprints(df, k=k, w=w).collect()
    }

    def model(doc_id, text):
        toks = text.lower().split()
        if len(toks) < k:
            return set()
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        n = len(hs)
        sel = set()
        starts = range(max(n - w + 1, 1))
        for i in starts:
            window = hs[i : i + w]
            m = min(window)
            p = max(j for j, h in enumerate(window) if h == m)  # rightmost
            sel.add((doc_id, i + p + 1, m))
        return sel

    want = set()
    for doc_id, text in docs:
        want |= model(doc_id, text)
    assert got == want
    # local guarantee on the long doc: every full window has a selection
    long_positions = sorted(p for d, p, _ in got if d == 0)
    n_grams = 16 - k + 1
    for i in range(1, n_grams - w + 2):
        assert any(i <= p <= i + w - 1 for p in long_positions), i
    # all-tie doc: rightmost-min walks forward, one selection per window
    tie_rows = sorted(p for d, p, _ in got if d == 1)
    # 5 identical grams -> 2 full windows (starts 1-2), each selecting
    # its RIGHTMOST position: 4 and 5. A leftmost tie-break would give
    # [1, 2] instead, so this pins the direction.
    assert tie_rows == [4, 5]


def test_connected_components_distributed_branch_raises_unconverged(spark, monkeypatch):
    """Min-label propagation needs as many rounds as the graph's diameter:
    on a 10-node path the distributed branch raises at max_iterations=3
    rather than return truncated labels, and with the default cap its
    rows equal the union-find branch's."""
    from pdf_brain_spark.operators import dedup

    path = [(i, i + 1) for i in range(9)] + [(20, 21)]
    pairs = spark.createDataFrame(path, "doc_a long, doc_b long")
    union_find = sorted(tuple(r) for r in dedup.connected_components(pairs).collect())
    assert union_find == [(n, 0) for n in range(10)] + [(20, 20), (21, 20)]

    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    with pytest.raises(ValueError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=3)
    distributed = sorted(tuple(r) for r in dedup.connected_components(pairs).collect())
    assert distributed == union_find


def test_connected_components_distributed_branch_build_jobs(spark, monkeypatch, jobs_fired):
    """The distributed branch's stop test rides on each round's checkpoint
    job, and the edge count on the edges checkpoint's: on the 10-node path
    (10 rounds) it fires at most 75 jobs, where a separate changed-label
    join plus `isEmpty` per round fired 117."""
    from pdf_brain_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    _, jobs = jobs_fired(lambda: dedup.connected_components(pairs))
    assert jobs <= 75


def test_connected_components_driver_branch_build_jobs(spark, monkeypatch, jobs_fired):
    """The union-find branch reads its edge count from the edges
    checkpoint's own job, so it builds with at most 4 jobs; both branches
    return no rows for no pairs."""
    from pdf_brain_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21)], "doc_a long, doc_b long"
    )
    _, jobs = jobs_fired(lambda: dedup.connected_components(pairs))
    assert jobs <= 4
    empty = pairs.limit(0)
    assert dedup.connected_components(empty).collect() == []
    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    assert dedup.connected_components(empty).collect() == []
