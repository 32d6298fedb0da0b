"""Correctness checks, independent of the engine: numpy brute force for
vector search, DuckDB for BM25 and for the gates' oracle twins, Python
shingle sets for Jaccard. Every check takes plain Python results and
returns None when they are right, or a one-line reason when not.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import math
import os

import numpy as np

TOL = 1e-6
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "un", "une", "dans", "que"],
    "es": ["el", "los", "las", "es", "y", "un", "una", "en", "del", "por"],
}
ALL_STOPWORDS = {w for ws in STOPWORDS.values() for w in ws}


def cosine_distances(mat: np.ndarray, q) -> np.ndarray:
    q = np.asarray(q, dtype=np.float64)
    return 1.0 - (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))


def check_ranked(got: list[tuple], truth: dict, k: int, descending: bool = False) -> str | None:
    """`got` is a ranked list of (id, value). It is a correct top-k of
    `truth` (id -> exact value) when it has min(k, |truth|) distinct known
    ids, every value matches its id's exact value, values are ordered, and
    nothing left out ranks strictly better than anything kept."""
    n = min(k, len(truth))
    if len(got) != n:
        return f"{len(got)} rows, want {n}"
    if len({g[0] for g in got}) != n:
        return "duplicate ids"
    sign = -1.0 if descending else 1.0
    ranked = sorted(sign * v for v in truth.values())
    worst_allowed = ranked[n - 1] if n else 0.0
    prev = None
    for gid, val in got:
        if gid not in truth:
            return f"id {gid} is not a valid result"
        if not math.isclose(val, truth[gid], rel_tol=0.0, abs_tol=TOL):
            return f"id {gid}: value {val} != {truth[gid]}"
        key = sign * val
        if key > worst_allowed + TOL:
            return f"id {gid} ranks outside the top {k}"
        if prev is not None and key < prev - TOL:
            return "results out of order"
        prev = key
    return None


def hybrid_expected(vec_top: list[tuple], fts_top: list[tuple]) -> dict:
    """The reference's vector-then-FTS merge of two top-k arms given as
    [(doc_id, score)]: a doc in both arms gets min(1, 1.2 x vector score)."""
    vs, fs = dict(vec_top), dict(fts_top)
    merged = {}
    for doc in vs.keys() | fs.keys():
        if doc in vs and doc in fs:
            merged[doc] = (min(1.0, vs[doc] * 1.2), "hybrid")
        elif doc in vs:
            merged[doc] = (vs[doc], "vector")
        else:
            merged[doc] = (fs[doc], "fts")
    return merged


def check_hybrid(got: list[tuple], merged: dict, limit: int) -> str | None:
    """`got`: ranked [(doc_id, score, match_type)]."""
    bad = check_ranked([(d, s) for d, s, _ in got], {d: v[0] for d, v in merged.items()},
                       limit, descending=True)
    if bad:
        return bad
    for d, _, kind in got:
        if merged[d][1] != kind:
            return f"doc {d}: match type {kind} != {merged[d][1]}"
    return None


def tokens(text: str) -> list[str]:
    return [t for t in text.strip().lower().split() if t]


def shingle_set(text: str, k: int = 3) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def passes_filter(text: str, min_quality: float) -> bool:
    """Python twin of the corpus filter: a detected language and a
    quality score of at least `min_quality`."""
    toks = tokens(text)
    cjk = any("一" <= ch <= "鿿" for ch in text)
    if not cjk and not any(t in ALL_STOPWORDS for t in toks):
        return False
    n_tok, n_chars = float(len(toks)), float(len(text))
    avg = n_chars / n_tok if n_tok > 0 else 0.0
    len_factor = min(n_tok / 100.0, 1.0)
    wlen_factor = 1.0 if 3.0 <= avg <= 12.0 else 0.5
    punct = sum(ch in ".!?,;:" for ch in text) / len(text)
    punct_factor = 1.0 - min(punct * 5.0, 1.0)
    stop_factor = 1.0 if any(t in STOPWORDS["en"] for t in toks) else 0.7
    return len_factor * wlen_factor * punct_factor * stop_factor >= min_quality


def check_filter(kept: set, texts: dict, min_quality: float) -> str | None:
    want = {d for d, t in texts.items() if passes_filter(t, min_quality)}
    if kept != want:
        return f"filter kept {len(kept)} docs, want {len(want)} ({len(kept ^ want)} differ)"
    return None


def check_exact(groups: list[tuple], texts: dict) -> str | None:
    """`groups`: [(content_hash, n_dups, keep_id)] over the docs in `texts`."""
    by_hash: dict[str, list] = {}
    for d, t in texts.items():
        by_hash.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(d)
    want = {(h, len(ids), min(ids)) for h, ids in by_hash.items() if len(ids) > 1}
    if set(groups) != want or len(groups) != len(want):
        return f"{len(groups)} exact-duplicate groups, want {len(want)}"
    return None


def check_pairs(pairs: list[tuple], texts: dict, threshold: float,
                must_find: list[tuple]) -> str | None:
    """`pairs`: [(doc_a, doc_b, jaccard)]. Each pair's Jaccard is recomputed
    from Python shingle sets; every pair in `must_find` must be present."""
    seen = set()
    for a, b, j in pairs:
        key = (min(a, b), max(a, b))
        if key in seen:
            return f"pair {key} emitted twice"
        seen.add(key)
        if a not in texts or b not in texts:
            return f"pair {key} names a document outside the input"
        want = jaccard(texts[a], texts[b])
        if not math.isclose(j, want, rel_tol=0.0, abs_tol=TOL) or want < threshold:
            return f"pair {key}: jaccard {j} != {want}"
    missing = [p for p in must_find if (min(p), max(p)) not in seen]
    if missing:
        return f"{len(missing)} injected duplicate pairs not found, e.g. {missing[0]}"
    return None


def check_components(labels: list[tuple], groups: list[list]) -> str | None:
    """`labels`: [(node, component)]. Each injected group must sit in one
    component, labelled by the smallest node id in it."""
    comp = dict(labels)
    members: dict = {}
    for node, c in labels:
        members.setdefault(c, []).append(node)
    for c, nodes in members.items():
        if c != min(nodes):
            return f"component {c} is not labelled by its smallest node"
    for g in groups:
        if len({comp.get(d) for d in g}) != 1 or comp.get(g[0]) is None:
            return f"injected group {g} split across components"
    return None


def ivf_assign(mat: np.ndarray, centroids) -> np.ndarray:
    """Nearest centroid by squared L2, as the engine's IVF assigner."""
    c = np.asarray(centroids, dtype=np.float64)
    d = (mat ** 2).sum(axis=1)[:, None] - 2.0 * (mat @ c.T) + (c ** 2).sum(axis=1)[None, :]
    return d.argmin(axis=1)


def ivf_probes(centroids, q, n_probes: int) -> set[int]:
    """The lists a single-vector IVF search probes (highest cosine)."""
    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    sims = c @ q / (np.linalg.norm(c, axis=1) * np.linalg.norm(q) + 1e-12)
    return {int(i) for i in np.argsort(-sims)[:n_probes]}


def ivf_batch_probes(centroids, q, n_probes: int) -> set[int]:
    """The lists a batched IVF search probes for one query."""
    c = np.asarray(centroids, dtype=np.float64)
    c = c / (np.linalg.norm(c, axis=1, keepdims=True) + 1e-12)
    q = np.asarray(q, dtype=np.float64)
    q = q / np.linalg.norm(q)
    return {int(i) for i in np.argsort(-(q @ c.T))[:n_probes]}


def duck_documents(texts: dict):
    """A DuckDB connection with a `documents` view over {doc_id: text}."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        {"doc_id": np.fromiter(texts.keys(), dtype=np.int64, count=len(texts)),
         "text": list(texts.values())}))
    return con


def bm25_truth(con, terms: list[str]) -> dict:
    """Exact BM25 of every matching document, from the engine's DuckDB
    twin of bm25_scores with no top-k cut."""
    from pdf_brain_spark.operators.fts import duck_bm25_sql

    rows = con.execute(duck_bm25_sql(terms, k=1_000_000)).fetchall()
    return {int(d): float(s) for d, s, _ in rows}


@functools.cache
def _oracle_harness():
    """tests/oracle_harness.py, loaded by path: the gates' compare rule."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_connection(sf_dir: str):
    """DuckDB with every table of `sf_dir` as a view, as the harness opens it."""
    return _oracle_harness().duck_connect(sf_dir)


def check_gate(spark_pdf, duck_pdf) -> str | None:
    """The oracle harness's rule: same column names, same row count, same
    order-insensitive values normalized to 6 decimals."""
    h = _oracle_harness()
    scols, dcols = list(spark_pdf.columns), list(duck_pdf.columns)
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != {sorted(dcols)}"
    srows = [tuple(r) for r in spark_pdf.itertuples(index=False, name=None)]
    drows = [tuple(r) for r in duck_pdf.itertuples(index=False, name=None)]
    if len(srows) != len(drows):
        return f"{len(srows)} rows, oracle has {len(drows)}"
    if h._normalize(srows, scols) != h._normalize(drows, dcols):
        return "values differ from the oracle"
    return None
