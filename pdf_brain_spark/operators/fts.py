"""Full-text search: postings + BM25, the Spark re-expression of the
reference's FTS5 inverted index + MATCH/rank (LibSQLDatabase.ts:730-733,
410-438). Spark has no built-in FTS, so we build the inverted structure
declaratively:

    docs → explode(tokens) → postings(term, doc, tf) → join idf → BM25

Scale posture: the postings build is one explode + one groupBy (shuffle on
(doc, term), combiner-friendly); document frequencies are a tiny per-term
aggregate that broadcasts back onto the postings. Query terms are a literal
filter pushed into the postings scan — at 100 TB you'd persist the postings
DataFrame as a bucketed table partitioned by term and this same plan prunes
to the queried terms only.

BM25 (Okapi, k1=1.2 b=0.75, Lucene-style idf) stands in for FTS5's rank;
the reference negates FTS5's more-negative-is-better rank into a positive
score (LibSQLDatabase.ts:437-451) — our score is positive already.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_brain_spark.functions.guards import spread_scan
from pdf_brain_spark.functions.text import tokenize

BM25_K1 = 1.2
BM25_B = 0.75


def build_postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, doc_len, tf) postings list, plus one doc-grain row
    per document (term NULL, tf 0): a NULL token appended to every token
    array, counted by `count(term)`, so a document with no token still
    lands one row carrying its doc_len 0. Tokenizes once; the doc side is
    spread first because tokenization is the CPU-bound map stage."""
    docs = spread_scan(docs, id_col)
    toked = docs.select(
        id_col,
        F.coalesce(tokenize(text_col), F.array().cast("array<string>")).alias("_tokens"),
    )
    toks = toked.select(
        id_col,
        F.explode(F.concat("_tokens", F.array(F.lit(None).cast("string")))).alias("term"),
        F.size(F.col("_tokens")).alias("doc_len"),
    )
    return toks.groupBy(id_col, "term", "doc_len").agg(F.count("term").alias("tf"))


def tokenized_corpus(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Materialized (id, _tokens) frame shared by the BM25 paths — ONE
    tokenize pass over the corpus, reusable across multiple searches in
    a session (prf_search feeds both its passes and the expansion-term
    mining from one). localCheckpoint, not cache(): a lazy operator
    can't safely unpersist (the caller collects after we return), so
    cache() entries would accumulate in the CacheManager across
    invocations in a long-lived session; checkpoint blocks are reclaimed
    by the ContextCleaner when the plan is GC'd (same rationale as
    temporal.py tiered rollup)."""
    return (
        spread_scan(docs, id_col)
        .select(id_col, tokenize(text_col).alias("_tokens"))
        .localCheckpoint(eager=True)
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    toked: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents by BM25 against the (lowercased) query terms.

    Query-time plan: per-term tf computed map-side with array functions
    (size∘filter over the token array) — NO explode, NO postings shuffle.
    The whole pipeline is one cached tokenize pass + one scalar stats
    action + one TakeOrdered. At index-time scale (repeated queries over a
    static corpus) you'd persist build_postings() as a term-bucketed table
    instead and prune to the queried terms; this path is the one-shot
    query plan. Pass `toked` (tokenized_corpus) to reuse an existing
    tokenize pass; the tf-columns each reference the token array, so the
    materialization it carries is what stops project-collapse from
    inlining tokenize() into every one of them."""
    terms = [t.lower() for t in query_terms]
    if toked is None:
        toked = tokenized_corpus(docs, id_col, text_col)

    def _tf(term: str):
        return F.size(F.filter(F.col("_tokens"), lambda x: x == F.lit(term)))

    per_doc = toked.select(
        id_col,
        F.size("_tokens").alias("_dl"),
        *[_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    # one action: corpus size, avg doc length, per-term document frequency
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0)).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs, avgdl = float(stats["n"]), float(stats["avgdl"])

    def _term_score(i: int):
        df = float(stats[f"_df{i}"])
        idf = F.lit(0.0) if df == 0 else F.log(F.lit((n_docs - df + 0.5) / (df + 0.5) + 1.0))
        tf = F.col(f"_tf{i}")
        return F.when(
            tf > 0,
            idf
            * (tf * (BM25_K1 + 1))
            / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("_dl") / F.lit(avgdl))),
        ).otherwise(F.lit(0.0))

    matched = sum(
        (F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0) for i in range(len(terms))),
        F.lit(0),
    )
    return (
        per_doc.withColumn("bm25", sum((_term_score(i) for i in range(len(terms))), F.lit(0.0)))
        .withColumn("terms_matched", matched)
        .filter(F.col("terms_matched") > 0)
        .select(id_col, "bm25", "terms_matched")
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def phrase_bm25_scores(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k documents by BM25 over an exact PHRASE match — the parity
    path for the reference's quoted-query MATCH (LibSQLDatabase.ts:408
    wraps the query as `"${escaped}"` before FTS5 MATCH, so token
    ADJACENCY matters, unlike bag-of-words bm25_scores).

    FTS5 semantics re-expressed: the phrase acts as a single synthetic
    term whose tf is the number of start positions i where
    tokens[i..i+m) equals the phrase (overlapping starts each count),
    and whose df is the number of docs with tf > 0. Scored with the
    same Okapi BM25 as the term path.

    Plan shape: tf is computed map-side with higher-order array
    functions over the token array (F.filter over a sequence of start
    offsets + F.get element probes) — NO explode, NO positional-postings
    shuffle. One cached tokenize pass, one scalar stats action, one
    TakeOrdered; at 100 TB the corpus scan stays embarrassingly parallel
    and only the top-k reduction crosses the wire."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("empty phrase")
    m = len(terms)
    # localCheckpoint, not cache() — see bm25_scores for the lifecycle
    # rationale.
    toked = (
        spread_scan(docs, id_col)
        .select(id_col, tokenize(text_col).alias("_tokens"))
        .localCheckpoint(eager=True)
    )

    def _match_at(i):
        cond = F.get(F.col("_tokens"), i) == F.lit(terms[0])
        for j, t in enumerate(terms[1:], start=1):
            cond = cond & (F.get(F.col("_tokens"), i + F.lit(j)) == F.lit(t))
        return cond

    starts = F.sequence(F.lit(0), F.size("_tokens") - F.lit(m))
    ptf = F.when(
        F.size("_tokens") >= m, F.size(F.filter(starts, _match_at))
    ).otherwise(F.lit(0))
    per_doc = toked.select(
        id_col, F.size("_tokens").alias("_dl"), ptf.alias("_ptf")
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_dl").alias("avgdl"),
        F.sum(F.when(F.col("_ptf") > 0, 1).otherwise(0)).alias("df"),
    ).collect()[0]
    n_docs, avgdl, df = float(stats["n"]), float(stats["avgdl"]), float(stats["df"])
    result = per_doc.filter(F.col("_ptf") > 0)
    if df == 0:
        return result.select(
            F.col(id_col), F.lit(0.0).alias("bm25"), F.col("_ptf").alias("phrase_hits")
        )
    idf = F.lit(float(__import__("math").log((n_docs - df + 0.5) / (df + 0.5) + 1.0)))
    tf = F.col("_ptf")
    score = (
        idf
        * (tf * (BM25_K1 + 1))
        / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("_dl") / F.lit(avgdl)))
    )
    return (
        result.withColumn("bm25", score)
        .select(id_col, "bm25", F.col("_ptf").alias("phrase_hits"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def duck_phrase_bm25_sql(phrase: str, k: int = 10) -> str:
    """DuckDB oracle twin of phrase_bm25_scores over the `documents` view.
    Same positional definition: DuckDB lists are 1-based, so start
    positions run 1..len-m+1 and term j probes tokens[i+j]."""
    terms = [t for t in phrase.lower().split() if t]
    m = len(terms)
    # escape single quotes so a token like o'brien stays a valid SQL
    # string literal in the oracle
    cond = " AND ".join(
        "tokens[i + {j}] = '{t}'".format(j=j, t=t.replace("'", "''"))
        for j, t in enumerate(terms)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, len(tokens) AS dl,
             CASE WHEN len(tokens) >= {m} THEN
               len(list_filter(generate_series(1, len(tokens) - {m} + 1), i -> {cond}))
             ELSE 0 END AS ptf
      FROM toks
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl,
             sum(CASE WHEN ptf > 0 THEN 1 ELSE 0 END) AS df
      FROM per_doc
    ),
    scored AS (
      SELECT p.doc_id,
             ln((s.n_docs - s.df + 0.5) / (s.df + 0.5) + 1.0)
               * (p.ptf * ({BM25_K1} + 1))
               / (p.ptf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * p.dl / s.avgdl)) AS bm25_raw,
             p.ptf AS phrase_hits
      FROM per_doc p, stats s
      WHERE p.ptf > 0
    )
    -- order by the UNROUNDED score (mirroring the Spark plan, which sorts
    -- full precision before rounding) so a tie introduced only by the
    -- 6-decimal rounding can't flip the k-boundary tie-break to doc_id
    SELECT doc_id, round(bm25_raw, 6) AS bm25, phrase_hits
    FROM scored
    ORDER BY bm25_raw DESC, doc_id ASC
    LIMIT {k}
    """


def duck_bm25_sql(query_terms: list[str], k: int = 10, where_clause: str = "") -> str:
    """DuckDB oracle twin of bm25_scores over the `documents` view.
    `where_clause` (e.g. "WHERE doc_id <> 3") restricts the corpus —
    the oracle for post-takedown serving."""
    terms = ", ".join("'{}'".format(t.lower().replace("'", "''")) for t in query_terms)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents {where_clause}
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(len(tokens)) AS avgdl FROM toks
    ),
    postings AS (
      SELECT doc_id, term, len_tokens AS doc_len, count(*) AS tf
      FROM (
        SELECT doc_id, unnest(tokens) AS term, len(tokens) AS len_tokens FROM toks
      )
      WHERE term IN ({terms})
      GROUP BY doc_id, term, len_tokens
    ),
    dfs AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term
    ),
    scored AS (
      SELECT p.doc_id,
             ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (p.tf * ({BM25_K1} + 1))
               / (p.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * p.doc_len / s.avgdl))
               AS term_score
      FROM postings p JOIN dfs d USING (term), stats s
    )
    SELECT doc_id, round(sum(term_score), 6) AS bm25, count(*) AS terms_matched
    FROM scored
    GROUP BY doc_id
    ORDER BY sum(term_score) DESC, doc_id ASC
    LIMIT {k}
    """


TITLE_TOKENS = 5  # synthetic field split: first 5 tokens are the "title"
BM25F_W_TITLE = 2.0
BM25F_W_BODY = 1.0


def bm25f_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k documents by BM25F (Zaragoza et al., CIKM 2004) — the
    multi-FIELD generalization of bm25_scores: each field's tf is
    length-normalized inside its own field (soft-normalized tf̃ =
    tf / (1 − b + b·dl_f/avgdl_f)), the fields combine into one weighted
    pseudo-frequency wtf = Σ_f w_f·tf̃_f, and saturation applies ONCE to
    the combined wtf (idf · wtf/(k1 + wtf)) — the property that makes
    BM25F rank a title hit above the same hit buried in a long body,
    which independent per-field BM25 sums get wrong. Fields here are
    synthetic (first TITLE_TOKENS tokens = title, rest = body) since the
    corpus is single-column; the algebra is the real thing.

    Same query-time plan as bm25_scores: per-field tf map-side over
    token-array slices (no explode, no postings shuffle), ONE scalar
    stats action (corpus size, per-field avg length, per-term df), one
    TakeOrdered."""
    terms = [t.lower() for t in query_terms]
    toked = tokenized_corpus(docs, id_col, text_col)
    title = F.slice(F.col("_tokens"), 1, TITLE_TOKENS)
    body = F.slice(
        F.col("_tokens"),
        TITLE_TOKENS + 1,
        F.greatest(F.size("_tokens") - TITLE_TOKENS, F.lit(0)),
    )

    def _tf(field, term: str):
        return F.size(F.filter(field, lambda x: x == F.lit(term)))

    per_doc = toked.select(
        id_col,
        F.least(F.size("_tokens"), F.lit(TITLE_TOKENS)).alias("_dlt"),
        F.greatest(F.size("_tokens") - TITLE_TOKENS, F.lit(0)).alias("_dlb"),
        *[_tf(title, t).alias(f"_tft{i}") for i, t in enumerate(terms)],
        *[_tf(body, t).alias(f"_tfb{i}") for i, t in enumerate(terms)],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_dlt").alias("avgdlt"),
        F.avg("_dlb").alias("avgdlb"),
        *[
            F.sum(
                F.when(F.col(f"_tft{i}") + F.col(f"_tfb{i}") > 0, 1).otherwise(0)
            ).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs = float(stats["n"])
    if n_docs == 0:
        # Degenerate corpus: avg lengths are NULL — return an empty frame
        # with the served schema (the retention_decay_fit degenerate-
        # series play; ADVICE r8).
        return per_doc.select(
            id_col,
            F.lit(0.0).alias("bm25f"),
            F.lit(0).alias("terms_matched"),
        ).limit(0)
    avgdlt, avgdlb = float(stats["avgdlt"]), float(stats["avgdlb"])

    def _wtf(i: int):
        # A zero-average-length field means every doc's field is empty
        # (tf = 0 there too): treat its normalized tf as 0 rather than
        # emitting 0.0/0.0 = NaN, which DuckDB would render as NULL —
        # a cross-engine divergence (ADVICE r8).
        if avgdlt == 0.0:
            ntft = F.lit(0.0)
        else:
            ntft = F.col(f"_tft{i}") / (
                1 - BM25_B + BM25_B * F.col("_dlt") / F.lit(avgdlt)
            )
        if avgdlb == 0.0:
            ntfb = F.lit(0.0)
        else:
            ntfb = F.col(f"_tfb{i}") / (
                1 - BM25_B + BM25_B * F.col("_dlb") / F.lit(avgdlb)
            )
        return F.lit(BM25F_W_TITLE) * ntft + F.lit(BM25F_W_BODY) * ntfb

    def _term_score(i: int):
        df = float(stats[f"_df{i}"])
        idf = F.lit(0.0) if df == 0 else F.log(
            F.lit((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        )
        wtf = _wtf(i)
        return F.when(
            F.col(f"_tft{i}") + F.col(f"_tfb{i}") > 0,
            idf * wtf / (F.lit(BM25_K1) + wtf),
        ).otherwise(F.lit(0.0))

    matched = sum(
        (
            F.when(F.col(f"_tft{i}") + F.col(f"_tfb{i}") > 0, 1).otherwise(0)
            for i in range(len(terms))
        ),
        F.lit(0),
    )
    return (
        per_doc.withColumn(
            "bm25f", sum((_term_score(i) for i in range(len(terms))), F.lit(0.0))
        )
        .withColumn("terms_matched", matched)
        .select(id_col, "bm25f", "terms_matched")
        .orderBy(F.col("bm25f").desc(), F.col(id_col).asc())
        .limit(k)
    )


def duck_bm25f_sql(query_terms: list[str], k: int = 10) -> str:
    """DuckDB twin of bm25f_scores — identical field split, soft
    normalization, weighted-wtf saturation, and float op order."""
    terms = [t.lower() for t in query_terms]
    tft = ", ".join(
        f"len(list_filter(tokens[1:{TITLE_TOKENS}], t -> t = '{t}')) AS tft{i}"
        for i, t in enumerate(terms)
    )
    tfb = ", ".join(
        f"len(list_filter(tokens[{TITLE_TOKENS} + 1:len(tokens)], t -> t = '{t}')) AS tfb{i}"
        for i, t in enumerate(terms)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tft{i} + tfb{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    score_terms = " + ".join(
        f"""CASE WHEN p.tft{i} + p.tfb{i} > 0 THEN
             ln((s.n_docs - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)
             * ({BM25F_W_TITLE} * (p.tft{i} / (1 - {BM25_B} + {BM25_B} * p.dlt / s.avgdlt))
                + {BM25F_W_BODY} * (p.tfb{i} / (1 - {BM25_B} + {BM25_B} * p.dlb / s.avgdlb)))
             / ({BM25_K1} + ({BM25F_W_TITLE} * (p.tft{i} / (1 - {BM25_B} + {BM25_B} * p.dlt / s.avgdlt))
                + {BM25F_W_BODY} * (p.tfb{i} / (1 - {BM25_B} + {BM25_B} * p.dlb / s.avgdlb))))
           ELSE 0.0 END"""
        for i in range(len(terms))
    )
    matched = " + ".join(
        f"CASE WHEN p.tft{i} + p.tfb{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(terms))
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id,
             least(len(tokens), {TITLE_TOKENS}) AS dlt,
             greatest(len(tokens) - {TITLE_TOKENS}, 0) AS dlb,
             {tft}, {tfb}
      FROM toks
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(dlt) AS avgdlt, avg(dlb) AS avgdlb, {dfs}
      FROM per_doc
    )
    SELECT p.doc_id,
           round({score_terms}, 6) AS bm25f,
           CAST({matched} AS INT) AS terms_matched
    FROM per_doc p, stats s
    ORDER BY ({score_terms}) DESC, p.doc_id ASC
    LIMIT {k}
    """
