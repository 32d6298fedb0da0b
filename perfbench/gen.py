"""Seeded input generator for the benchmark workloads.

Everything a workload feeds the engine is written here, before any timing
starts, from one integer seed: the same seed gives byte-identical files.
The engine only ever sees these files (parquet tables plus one JSON plan
per workload).

Run alone to inspect the inputs:

    python3 perfbench/gen.py --workload serve --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import STOPWORDS

# sf0.1 shape of the repository's test tables (TESTDATA.md): the same row
# counts, column types and value ranges, regenerated from the seed.
N_DOCS = 5000
N_VECS = 2000
DIM = 64
N_EVENTS = 100_000
N_USERS = 1500
N_CUSTOMERS = 15_000
N_ORDERS = 150_000
N_LINEITEMS = 600_000

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANG_SHARE = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
# batch: the tables of the sf0.1 layout that no batch gate reads. The DuckDB
# connection the gate checks share with tests/oracle_harness.py makes a view
# over every table of that layout, so these are written with their columns
# and no rows.
EMPTY_TABLES = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                            ("source", pa.string()), ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}

# serve: one pass is SERVE_ROUNDS rounds. A round is one micro-batch into
# the persisted indexes (an update round first tombstones and then
# reinserts earlier ids), an optional compaction, then its requests.
#
# The request mix. The reference's one published traffic is sequential
# top-k search sweeping k over {5, 10, 20, 50} (BASELINE.md), so top-k is
# the most frequent kind: 8 of the 18 requests of a pass, the sweep twice.
# The other 10 are one or two of each other kind the engine serves: BM25,
# hybrid, each batched search at B = 8 and at B = 256, and one read of each
# persisted index after each micro-batch. The text requests ask for 1 to 3
# terms. The second field of a request is k for top-k, the number of query terms
# for the text requests and the batch size B for the batched searches. The
# kinds and sizes are fixed, so every seed carries the same mix; the seed
# picks ids, vectors and terms.
SERVE_ROUNDS = (
    {"docs": 150, "vecs": 60, "update": None, "compact": False, "requests": [
        ("topk", 5), ("bm25", 1), ("topk", 10), ("join_batch", 8), ("topk", 20),
        ("ivf_batch", 8), ("topk", 50), ("hybrid", 2), ("fts_read", 3), ("ann_read", None)]},
    {"docs": 150, "vecs": 60, "update": (20, 8), "compact": True, "requests": [
        ("topk", 5), ("topk", 10), ("join_batch", 256), ("topk", 20),
        ("ivf_batch", 256), ("topk", 50), ("fts_read", 1), ("ann_read", None)]},
)
SERVE_K = 10  # k of every request other than top-k
# The warm-up, part of set-up: one small micro-batch into a throwaway
# index, then every request kind once (a hybrid request runs top-k and
# BM25 too). It pays first-use code generation,
# JIT compilation and Python worker start-up before timing, as a serving
# node pays them once per start. It has no update round: tombstones and
# compaction would cost set-up about 10 s more on 4 cores.
SERVE_WARMUP = (
    {"docs": 20, "vecs": 10, "update": None, "compact": False, "requests": [
        ("hybrid", 2), ("join_batch", 8), ("ivf_batch", 8), ("fts_read", 2), ("ann_read", None)]},
)
IVF_LISTS = 16  # in-memory IVF index (ann.ivf_index, as bench.py builds it)
IVF_PROBES = 4
STREAM_LISTS = 8  # streaming IVF index (centroids from clustering.fit_centroid_matrix)
STREAM_PROBES = 4

# batch: the dedup corpus, with injected duplicates.
DEDUP_DOCS = 5000
DEDUP_EXACT_SHARE = 0.02  # docs that are byte copies of another doc
DEDUP_NEAR_SHARE = 0.01  # originals that get two one-token variants
DEDUP_VOCAB_PER_WORD = 200  # hash-perturbed spellings per base word
# the warm-up, part of set-up, runs the pipeline once on this many corpus
# documents, so the timed passes run on warm code paths
DEDUP_WARMUP_DOCS = 200


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a table never
    shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = np.array(WORDS)
    return [" ".join(words[rng.integers(0, len(words), size=int(m))]) for m in lens]


def documents_table(seed: int) -> pa.Table:
    rng = _rng(seed, "documents")
    texts = doc_texts(rng, N_DOCS)
    # a few byte-identical documents, as in the sf0.1 test tables
    for src, dst in rng.choice(N_DOCS, size=(8, 2), replace=False):
        texts[int(dst)] = texts[int(src)]
    langs = rng.choice(list(LANG_SHARE), size=N_DOCS, p=list(LANG_SHARE.values()))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(seed: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    vecs = unit_vectors(rng, N_VECS)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=N_VECS), pa.int32()),
    })


def events_table(seed: int) -> pa.Table:
    rng = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, size=N_EVENTS)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, size=N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=N_EVENTS).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=N_EVENTS), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)], pa.string()),
    })


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """customer, orders and lineitem: the TPC-H tables the batch gates read."""
    rng = _rng(seed, "tpch")
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01", "us")
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMERS
        ).tolist(),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, size=N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2)),
        "o_orderdate": pa.array(d0 + rng.integers(0, 2403, N_ORDERS) * day, pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
        ).tolist(),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, size=N_LINEITEMS), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, size=N_LINEITEMS), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, size=N_LINEITEMS), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=N_LINEITEMS), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=N_LINEITEMS).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, N_LINEITEMS), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=N_LINEITEMS) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=N_LINEITEMS) / 100.0),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEMS).tolist(),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEMS).tolist(),
        "l_shipdate": pa.array(d0 + rng.integers(1, 2500, N_LINEITEMS) * day, pa.timestamp("us")),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _query_terms(rng: np.random.Generator, n: int) -> list[str]:
    return [str(w) for w in rng.choice(WORDS, size=n, replace=False)]


def _noise_vector(rng: np.random.Generator) -> list[float]:
    return [float(x) for x in unit_vectors(rng, 1)[0]]


def dedup_corpus(seed: int) -> tuple[pa.Table, dict]:
    """A crawl-like corpus: perturbed vocabulary (so unrelated documents
    share few shingles), a language mix detectable from stopwords, a
    share of low-quality documents the filter drops, and injected exact
    and near duplicates, with ids and row order scattered by the seed."""
    rng = _rng(seed, "dedup")
    salt = int(rng.integers(0, 2**31))
    vocab = np.array([
        f"{w}{hashlib.blake2b(f'{salt}:{w}:{j}'.encode(), digest_size=3).hexdigest()}"
        for w in WORDS for j in range(DEDUP_VOCAB_PER_WORD)
    ], dtype=object)
    n_exact = int(DEDUP_DOCS * DEDUP_EXACT_SHARE)
    n_near = int(DEDUP_DOCS * DEDUP_NEAR_SHARE)
    n_orig = DEDUP_DOCS - n_exact - 2 * n_near
    langs = rng.choice(["en", "de", "fr", "es", "zh", "none"], size=n_orig,
                       p=[0.45, 0.12, 0.12, 0.12, 0.12, 0.07])
    lens = rng.integers(40, 121, size=n_orig)
    short = rng.random(n_orig) < 0.05  # too short for the quality bar
    lens[short] = rng.integers(5, 10, size=int(short.sum()))
    # every token drawn at once; about one in ten becomes a stopword of the
    # document's language (none for "none" and "zh" documents)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    toks = vocab[rng.integers(0, len(vocab), size=int(offsets[-1]))]
    doc_of = np.repeat(np.arange(n_orig), lens)
    stop_langs = ["en", "de", "fr", "es"]
    stops = np.array([w for lang in stop_langs for w in STOPWORDS[lang]], dtype=object)
    lang_idx = np.array([stop_langs.index(x) if x in stop_langs else -1 for x in langs])
    is_stop = (rng.random(len(toks)) < 0.1) & (lang_idx[doc_of] >= 0)
    is_stop[offsets[:-1]] = False  # first token stays a content word
    pick = lang_idx[doc_of] * 10 + rng.integers(0, 10, size=len(toks))
    toks = np.where(is_stop, stops[np.maximum(pick, 0)], toks)
    zh = np.flatnonzero(langs == "zh")
    toks[offsets[zh]] = ["文档" + t for t in toks[offsets[zh]]]
    texts = [" ".join(toks[offsets[i]:offsets[i + 1]]) for i in range(n_orig)]
    # near duplicates: two variants of an original, each with one content
    # token replaced by a different vocabulary word of the same length,
    # which keeps every quality and language feature of the original
    by_len: dict[int, list[str]] = {}
    for w in sorted(set(vocab)):
        by_len.setdefault(len(w), []).append(w)
    eligible = np.flatnonzero((~short) & (langs != "none"))
    picks = rng.choice(eligible, size=n_near + n_exact, replace=False)
    near_groups = []
    for i in picks[:n_near]:
        content = np.flatnonzero(~is_stop[offsets[i] + 1:offsets[i + 1]]) + 1
        group = [int(i)]
        for p in rng.choice(content, size=2, replace=False):
            variant = texts[int(i)].split(" ")
            same = [w for w in by_len[len(variant[p])] if w != variant[p]]
            variant[p] = same[int(rng.integers(0, len(same)))]
            group.append(len(texts))
            texts.append(" ".join(variant))
        near_groups.append(group)
    exact_groups = []
    for i in picks[n_near:]:
        exact_groups.append([int(i), len(texts)])
        texts.append(texts[int(i)])
    ids = rng.permutation(DEDUP_DOCS).astype(np.int64) * 7 + 3
    rows = rng.permutation(DEDUP_DOCS)
    table = pa.table({
        "doc_id": pa.array(ids[rows], pa.int64()),
        "text": pa.array([texts[int(r)] for r in rows], pa.string()),
    })
    truth = {
        "exact_groups": [[int(ids[j]) for j in g] for g in exact_groups],
        "near_groups": [[int(ids[j]) for j in g] for g in near_groups],
    }
    return table, truth


def serve_rounds(rng: np.random.Generator, specs: tuple) -> list[dict]:
    """Rounds of arrivals and requests over the sf0.1 documents and
    embeddings. Each round lists the ids it inserts; an update round first
    tombstones `update` = (docs, vectors) ids committed earlier and then
    reinserts them with new content."""
    doc_order = rng.permutation(N_DOCS)
    vec_order = rng.permutation(N_VECS)
    rounds = []
    live_docs: list[int] = []
    live_vecs: list[int] = []
    for spec in specs:
        new_docs = doc_order[len(live_docs):len(live_docs) + spec["docs"]]
        new_vecs = vec_order[len(live_vecs):len(live_vecs) + spec["vecs"]]
        rnd: dict = {"docs": [int(i) for i in new_docs], "vecs": [int(i) for i in new_vecs],
                     "update_docs": {}, "update_vecs": {}, "compact": spec["compact"]}
        if spec["update"]:
            n_docs, n_vecs = spec["update"]
            upd_docs = rng.choice(live_docs, size=n_docs, replace=False)
            upd_vecs = rng.choice(live_vecs, size=n_vecs, replace=False)
            texts = doc_texts(rng, n_docs)
            vecs = unit_vectors(rng, n_vecs)
            rnd["update_docs"] = {str(int(i)): t for i, t in zip(upd_docs, texts)}
            rnd["update_vecs"] = {str(int(i)): [float(x) for x in v] for i, v in zip(upd_vecs, vecs)}
        requests = []
        for kind, arg in spec["requests"]:
            req: dict = {"kind": kind, "k": arg if kind == "topk" else SERVE_K}
            if kind in ("topk", "hybrid", "ann_read"):
                req["vec"] = _noise_vector(rng)
            if kind in ("bm25", "hybrid", "fts_read"):
                req["terms"] = _query_terms(rng, arg)
            if kind in ("join_batch", "ivf_batch"):
                req["vecs"] = [[float(x) for x in v] for v in unit_vectors(rng, arg)]
            requests.append(req)
        rnd["requests"] = requests
        live_docs.extend(rnd["docs"])
        live_vecs.extend(rnd["vecs"])
        rounds.append(rnd)
    return rounds


def serve_plan(seed: int) -> dict:
    return {"rounds": serve_rounds(_rng(seed, "serve"), SERVE_ROUNDS),
            "warmup": serve_rounds(_rng(seed, "serve-warmup"), SERVE_WARMUP),
            "ivf_lists": IVF_LISTS, "ivf_probes": IVF_PROBES,
            "stream_lists": STREAM_LISTS, "stream_probes": STREAM_PROBES}


def generate(workload: str, seed: int, out: str) -> None:
    """Write the inputs of `workload` for `seed` under `out`."""
    os.makedirs(out, exist_ok=True)
    if workload == "serve":
        tables = {"documents": documents_table(seed), "embeddings": embeddings_table(seed)}
        plan = serve_plan(seed)
    else:
        tables = {**tpch_tables(seed), "events": events_table(seed)}
        tables.update({name: schema.empty_table() for name, schema in EMPTY_TABLES.items()})
        tables["corpus"], plan = dedup_corpus(seed)
        tables["warmup_corpus"] = tables["corpus"].slice(0, DEDUP_WARMUP_DOCS)
    for name, table in tables.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f, sort_keys=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
