"""Gate definitions, rounds 1-7 core: vector search (SURVEY §2.9 M1/M2,
§2.3 J1, §2.5 W1), the TPC-H-ish relational core, FTS/BM25 + hybrid
merge, the text-analysis and dedup families, event windows /
sessionization, recursive closure, corpus analytics, clustering/ANN,
ingest pipeline shapes, taxonomy joins, tag-filtered vector search,
multi-scale retrieval, and dedup verify/simhash.

Split out of the single-file pdf_brain_spark/queries.py at round 12
(VERDICT r11 item 5). Import-order contract: pdf_brain_spark.queries
imports the gates modules in REGISTRATION ORDER, so the @query side
effects fill the registry exactly as the single-file layout did; the
driver-facing surface (names, oracles, window) is byte-identical.
"""

from __future__ import annotations

import os  # noqa: F401

from collections.abc import Callable  # noqa: F401

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_brain_spark.functions.guards import bounded_axis  # noqa: F401
from pdf_brain_spark.operators.dedup import SHINGLE_DF_CAP
from pdf_brain_spark.operators.fts import duck_bm25_sql, duck_phrase_bm25_sql
from pdf_brain_spark.registry import query
from pdf_brain_spark.sources.loaders import load_table  # noqa: F401



# --------------------------------------------------------------------------
# Vector search (SURVEY §2.9 M1/M2, §2.3 J1, §2.5 W1)
# --------------------------------------------------------------------------

# DuckDB-side double-precision cosine over float[] columns; list_zip +
# sequential list_sum mirrors Spark's zip_with + aggregate fold.
_DUCK_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_DUCK_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)

_DUCK_EUCLID = (
    "sqrt(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))))"
)

_DUCK_CENTROIDS = """
    cent AS (
      SELECT label, list(avg_val ORDER BY pos) AS centroid
      FROM (
        SELECT label, pos, avg(CAST(val AS DOUBLE)) AS avg_val
        FROM (
          SELECT label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding) AS val
          FROM embeddings
        ) GROUP BY label, pos
      ) GROUP BY label
    )
"""


def _duck_cosine_distance(a: str, b: str) -> str:
    return (
        f"(1.0 - {_DUCK_COS.format(a=a, b=b)} / "
        f"({_DUCK_NORM.format(a=a)} * {_DUCK_NORM.format(a=b)}))"
    )


@query(
    "vector_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
      FROM embeddings e, q
    )
    SELECT vec_id, label,
           round(d, 6) + 0.0 AS distance,
           round(1.0 - d / 2.0, 6) AS score
    FROM scored
    ORDER BY d ASC, vec_id ASC
    LIMIT 10
    """,
)
def vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 (reference J1+W1, score = 1 - d/2)."""
    from pdf_brain_spark.operators.vector_search import topk_by_query_df

    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    res = topk_by_query_df(emb, qdf, k=10)
    return res.select(
        "vec_id",
        "label",
        (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
        F.round("score", 6).alias("score"),
    )


@query(
    "vector_topk_threshold",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
      FROM embeddings e, q
    )
    SELECT vec_id, label,
           round(d, 6) + 0.0 AS distance,
           round(1.0 - d / 2.0, 6) AS score
    FROM scored
    WHERE d <= 2.0 * (1.0 - 0.55)
    ORDER BY d ASC, vec_id ASC
    LIMIT 50
    """,
)
def vector_topk_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with score-threshold pushdown: score ≥ 0.55 ⇔ d ≤ 0.9
    (reference P5, LibSQLDatabase.ts:359-368)."""
    from pdf_brain_spark.operators.vector_search import topk_by_query_df

    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    res = topk_by_query_df(emb, qdf, k=50, threshold=0.55)
    return res.select(
        "vec_id",
        "label",
        (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
        F.round("score", 6).alias("score"),
    )


@query(
    "vector_similarity_join",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS query_id, embedding AS query_vec
      FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
      FROM embeddings e, queries q
    ),
    ranked AS (
      SELECT query_id, vec_id, d,
             row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, rank,
           round(1.0 - d / 2.0, 6) AS score
    FROM ranked WHERE rank <= 5
    """,
)
def vector_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: 8 query vectors × all vectors, top-5 each (M2) —
    one scan amortized over the whole query batch."""
    from pdf_brain_spark.operators.vector_search import similarity_join

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = similarity_join(queries, emb, k=5)
    return res.select(
        "query_id", "vec_id", "rank", F.round("score", 6).alias("score")
    )


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, embedding AS anchor_vec
      FROM embeddings WHERE vec_id < 32
    ),
    scored AS (
      SELECT a.anchor_id, e.vec_id,
             {_duck_cosine_distance('e.embedding', 'a.anchor_vec')} AS d,
             round(1.0 - {_duck_cosine_distance('e.embedding', 'a.anchor_vec')} / 2.0, 6) AS score
      FROM embeddings e, anchors a
      WHERE e.vec_id <> a.anchor_id
    ),
    kept AS (SELECT * FROM scored WHERE score < 0.72),
    ranked AS (
      SELECT anchor_id, vec_id, score,
             row_number() OVER (PARTITION BY anchor_id ORDER BY d ASC, vec_id ASC) AS rank
      FROM kept
    )
    SELECT anchor_id, vec_id, rank, score
    FROM ranked WHERE rank <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (operators/
    vector_search.py::hard_negatives): per anchor, the most-similar
    non-near-duplicate vectors — the negatives that carry gradient
    signal (DPR-style mining). 32 anchors broadcast into one corpus
    scan; the near-dup exclusion (score >= 0.72 on this corpus's
    similarity range — exercised at all three scales) compares the
    6-dp-rounded score so the boundary decision is engine-identical."""
    from pdf_brain_spark.operators.vector_search import hard_negatives

    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("anchor_vec")
    )
    return hard_negatives(emb, anchors, k=5, dup_threshold=0.72)


# --------------------------------------------------------------------------
# Relational core on the TPC-H-ish star schema (SURVEY §2.3/2.4/2.5/2.6)
# --------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical partial-agg /
    map-side-combine pattern (SURVEY A1-analog on the star schema)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 4
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "top_revenue_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k. customer is the small side → broadcast
    (reference J1's dimension-join shape at relational scale)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    # pre-aggregate the fact table to order grain BEFORE joining: the join
    # then moves |orders| rows instead of |lineitem|, and the per-customer
    # count-distinct degenerates to a plain count (one row per order) —
    # at 100 TB this is the difference between shuffling the fact table
    # twice and once
    order_rev = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("order_rev")
    )
    return (
        order_rev.join(o, order_rev.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("order_rev"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "regional_volume",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-ish star join; all dimensions broadcast so the fact table
    never shuffles before the aggregate."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("volume")
        )
    )


@query(
    "mmr_rerank",
    oracle=f"""
    WITH RECURSIVE q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    cand AS (
      SELECT e.vec_id, e.embedding,
             round(1.0 - {_duck_cosine_distance('e.embedding', 'q.qv')} / 2.0, 6) AS rel,
             CAST(round(round(1.0 - {_duck_cosine_distance('e.embedding', 'q.qv')} / 2.0, 6) * 1000000) AS BIGINT) AS rel6
      FROM embeddings e, q
      ORDER BY {_duck_cosine_distance('e.embedding', 'q.qv')} ASC, e.vec_id ASC
      LIMIT 30
    ),
    pair AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(round(round((1.0 + {_DUCK_COS.format(a='a.embedding', b='b.embedding')} /
                   ({_DUCK_NORM.format(a='a.embedding')} * {_DUCK_NORM.format(a='b.embedding')})) / 2.0, 6) * 1000000) AS BIGINT) AS sim6
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    sel AS (
      (SELECT 1 AS rank, vec_id, rel,
              CAST(7 * rel6 AS DOUBLE) / 10000000.0 AS mmr_score, [vec_id] AS chosen
       FROM cand ORDER BY 7 * rel6 DESC, vec_id ASC LIMIT 1)
      UNION ALL
      (SELECT sel.rank + 1, nxt.vec_id, nxt.rel, nxt.mmr, list_append(sel.chosen, nxt.vec_id)
       FROM sel, LATERAL (
         SELECT c.vec_id, c.rel,
                CAST(7 * c.rel6 - 3 * (SELECT max(p.sim6) FROM pair p
                                       WHERE p.ia = c.vec_id AND list_contains(sel.chosen, p.ib))
                     AS DOUBLE) / 10000000.0 AS mmr
         FROM cand c
         WHERE NOT list_contains(sel.chosen, c.vec_id)
         ORDER BY mmr DESC, c.vec_id ASC
         LIMIT 1
       ) nxt
       WHERE sel.rank < 10)
    )
    SELECT rank, vec_id, rel, mmr_score FROM sel
    """,
)
def mmr_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 (λ=0.7) from a 30-candidate exact cosine
    fetch — the diversity layer over the reference's raw-similarity
    search order (LibSQLDatabase.ts:325-376). The greedy selection is
    sequential by definition, so the oracle is a recursive CTE running
    the SAME greedy over the SAME 6-decimal-rounded rel/sim values —
    a full-path attestation of candidate fetch, pairwise-sim kernel,
    penalty arithmetic, and tie-breaks."""
    from pdf_brain_spark.operators.vector_search import mmr_rerank

    emb = load_table(spark, "embeddings", sf_dir)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    return mmr_rerank(emb, qvec, k=10, n_candidates=30, lam=0.7)


@query(
    "mmr_rerank_batch",
    oracle=f"""
    WITH RECURSIVE qs AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 64
    ),
    ranked AS (
      SELECT q.query_id, e.vec_id, e.embedding,
             round(1.0 - {_duck_cosine_distance('e.embedding', 'q.qv')} / 2.0, 6) AS rel,
             CAST(round(round(1.0 - {_duck_cosine_distance('e.embedding', 'q.qv')} / 2.0, 6) * 1000000) AS BIGINT) AS rel6,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY {_duck_cosine_distance('e.embedding', 'q.qv')} ASC, e.vec_id ASC
             ) AS rn
      FROM embeddings e, qs q
    ),
    cand AS (SELECT query_id, vec_id, embedding, rel, rel6 FROM ranked WHERE rn <= 30),
    pair AS (
      SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib,
             CAST(round(round((1.0 + {_DUCK_COS.format(a='a.embedding', b='b.embedding')} /
                   ({_DUCK_NORM.format(a='a.embedding')} * {_DUCK_NORM.format(a='b.embedding')})) / 2.0, 6) * 1000000) AS BIGINT) AS sim6
      FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    sel AS (
      (SELECT query_id, 1 AS rank, vec_id, rel,
              CAST(7 * rel6 AS DOUBLE) / 10000000.0 AS mmr_score,
              [vec_id] AS chosen
       FROM (SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY 7 * rel6 DESC, vec_id ASC
             ) AS rr FROM cand)
       WHERE rr = 1)
      UNION ALL
      (SELECT sel.query_id, sel.rank + 1, nxt.vec_id, nxt.rel, nxt.mmr,
              list_append(sel.chosen, nxt.vec_id)
       FROM sel, LATERAL (
         SELECT c.vec_id, c.rel,
                CAST(7 * c.rel6 - 3 * (SELECT max(p.sim6) FROM pair p
                                       WHERE p.query_id = sel.query_id
                                         AND p.ia = c.vec_id
                                         AND list_contains(sel.chosen, p.ib))
                     AS DOUBLE) / 10000000.0 AS mmr
         FROM cand c
         WHERE c.query_id = sel.query_id AND NOT list_contains(sel.chosen, c.vec_id)
         ORDER BY mmr DESC, c.vec_id ASC
         LIMIT 1
       ) nxt
       WHERE sel.rank < 10)
    )
    SELECT query_id, rank, vec_id, rel, mmr_score FROM sel
    """,
)
def mmr_rerank_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched MMR at 64 queries (operators/vector_search.py::
    mmr_rerank_batch) — the serving-batch twin of mmr_rerank, matching
    the engine's batch shape (one BLAS corpus pass fetches all 64
    candidate sets; 64 bounded greedy kernels run as one applyInPandas
    stage). The oracle runs the per-query recursive-CTE greedy over the
    same 6-dp-rounded rel/sim values, so a hash-green row attests the
    batched candidate fetch, the vector re-attach join, and every
    query's full selection path at once."""
    from pdf_brain_spark.operators.vector_search import mmr_rerank_batch

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return mmr_rerank_batch(emb, queries, k=10, n_candidates=30, lam=0.7)


# --------------------------------------------------------------------------
# Full-text search / BM25 (SURVEY §2.3 J2, §2.5 W2) + hybrid merge (J8/U2)
# --------------------------------------------------------------------------

FTS_QUERY_TERMS = ["spark", "shuffle", "join"]


@query("fts_bm25", oracle=duck_bm25_sql(FTS_QUERY_TERMS, k=10))
def fts_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the documents table for a fixed term set — the
    Spark re-expression of FTS5 MATCH + rank (J2/W2)."""
    from pdf_brain_spark.operators.fts import bm25_scores

    docs = load_table(spark, "documents", sf_dir)
    res = bm25_scores(docs, FTS_QUERY_TERMS, k=10)
    return res.select("doc_id", F.round("bm25", 6).alias("bm25"), "terms_matched")


# The reference quotes the whole query string before MATCH
# (LibSQLDatabase.ts:408: `"${escaped}"`), so its FTS arm is PHRASE
# search — token adjacency matters. fts_phrase is the parity gate for
# that semantics; fts_bm25 stays as the multi-term rank path (W2).
FTS_QUERY_PHRASE = "spark window"


@query("fts_phrase", oracle=duck_phrase_bm25_sql(FTS_QUERY_PHRASE, k=10))
def fts_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase FTS MATCH + BM25 rank (J2 parity: adjacency-aware,
    LibSQLDatabase.ts:408). Phrase tf counts start positions; computed
    map-side over the token array, no explode/shuffle."""
    from pdf_brain_spark.operators.fts import phrase_bm25_scores

    docs = load_table(spark, "documents", sf_dir)
    res = phrase_bm25_scores(docs, FTS_QUERY_PHRASE, k=10)
    return res.select("doc_id", F.round("bm25", 6).alias("bm25"), "phrase_hits")


# Phrase-BM25 FTS arm for the hybrid/search composites: the reference's
# search path MATCHes the quoted query (LibSQLDatabase.ts:408), so the arm
# is adjacency-aware phrase scoring, scaled into the [0,1]-ish range of the
# vector arm. DuckDB lists are 1-based: start positions 1..len-m+1.
_DUCK_PHRASE_ARM = """
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, len(tokens) AS dl,
             CASE WHEN len(tokens) >= 2 THEN
               len(list_filter(generate_series(1, len(tokens) - 1),
                   i -> tokens[i] = 'spark' AND tokens[i + 1] = 'window'))
             ELSE 0 END AS ptf
      FROM toks
    ),
    pstats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl,
             sum(CASE WHEN ptf > 0 THEN 1 ELSE 0 END) AS df
      FROM per_doc
    ),
    fts_arm AS (
      SELECT doc_id,
             ln((s.n_docs - s.df + 0.5) / (s.df + 0.5) + 1.0)
               * (p.ptf * 2.2) / (p.ptf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
               / 10.0 AS fts_score
      FROM per_doc p, pstats s
      WHERE p.ptf > 0
      ORDER BY 2 DESC, doc_id ASC LIMIT 10
    )
"""


@query(
    "hybrid_search",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
    vec_arm AS (
      SELECT e.vec_id AS doc_id,
             1.0 - {_duck_cosine_distance('e.embedding', 'q.query_vec')} / 2.0 AS vec_score
      FROM embeddings e, q
      ORDER BY vec_score DESC, e.vec_id ASC LIMIT 10
    ),
    {_DUCK_PHRASE_ARM},
    merged AS (
      SELECT COALESCE(v.doc_id, f.doc_id) AS doc_id,
             CASE WHEN v.doc_id IS NOT NULL AND f.doc_id IS NOT NULL
                  THEN least(1.0, v.vec_score * 1.2)
                  ELSE COALESCE(v.vec_score, f.fts_score) END AS raw_score,
             CASE WHEN v.doc_id IS NOT NULL AND f.doc_id IS NOT NULL THEN 'hybrid'
                  WHEN v.doc_id IS NOT NULL THEN 'vector' ELSE 'fts' END AS match_type
      FROM vec_arm v FULL OUTER JOIN fts_arm f ON v.doc_id = f.doc_id
    )
    -- order by the UNROUNDED score, mirroring hybrid_merge's sort-then-
    -- round plan, so a 6th-decimal tie at the limit boundary cannot flip
    -- the doc_id tie-break (same fix as the fts_phrase oracle)
    SELECT doc_id, round(raw_score, 6) AS score, match_type
    FROM merged
    ORDER BY raw_score DESC, doc_id ASC LIMIT 10
    """,
)
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid vector∪FTS merge with the reference's exact boost semantics:
    in-both ⇒ min(1, vec_score·1.2), matchType='hybrid' (src/index.ts:323-353).
    The FTS arm is PHRASE scoring — the reference quotes the query before
    MATCH (LibSQLDatabase.ts:408), so adjacency matters end-to-end.
    Embeddings vec_id keys the documents table (synthetic 1:1)."""
    from pdf_brain_spark.operators.fts import phrase_bm25_scores
    from pdf_brain_spark.operators.hybrid import hybrid_merge
    from pdf_brain_spark.operators.vector_search import topk_by_query_df

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    vec = topk_by_query_df(emb, qdf, k=10).select(
        F.col("vec_id").alias("doc_id"), F.col("score").alias("vec_score")
    )
    # scale bm25 (unbounded) into a score comparable to the [0,1] vector arm
    fts = phrase_bm25_scores(docs, FTS_QUERY_PHRASE, k=10).select(
        "doc_id", (F.col("bm25") / 10.0).alias("fts_score")
    )
    merged = hybrid_merge(vec, fts, ["doc_id"], limit=10)
    return merged.select("doc_id", F.round("score", 6).alias("score"), "match_type")


# --------------------------------------------------------------------------
# Text analysis for LLM-corpus pipelines (beyond-reference, BASELINE.json)
# --------------------------------------------------------------------------


@query(
    "text_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens,
             length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
             length(text) AS len_text
      FROM documents
    )
    SELECT t.doc_id, t.lang,
           len(tokens) AS n_tokens,
           round(CAST(n_punct AS DOUBLE) / len_text, 6) AS punct_ratio,
           len(list_filter(tokens, t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS en_stopwords,
           len(regexp_extract_all(d.text, '\\w+|[^\\w\\s]')) AS subword_tokens,
           CAST(ceil(len_text / 4.0) AS BIGINT) AS chars4_estimate
    FROM toks t JOIN documents d ON t.doc_id = d.doc_id
    ORDER BY t.doc_id
    LIMIT 100
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/punctuation/stopword features (corpus quality
    scoring inputs) plus the token-budget estimators (whitespace tokens,
    BPE-ish word+punct tokens, chars/4 heuristic) — one scan, all
    codegen'd expressions. `token_counts` stays registered as the
    standalone estimator API."""
    from pdf_brain_spark.functions.text import (
        punct_ratio,
        stopword_hits,
        subword_token_count,
        tokenize,
        tokenize_sql,
    )

    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(
            "doc_id",
            "lang",
            F.size(tokenize("text")).alias("n_tokens"),
            F.round(punct_ratio("text"), 6).alias("punct_ratio"),
            stopword_hits(tokenize_sql("text"), "en").alias("en_stopwords"),
            subword_token_count("text").alias("subword_tokens"),
            F.ceil(F.length("text") / 4.0).cast("long").alias("chars4_estimate"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@query(
    "lang_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang AS actual_lang,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens,
             length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk
      FROM documents
    ),
    hits AS (
      SELECT doc_id, actual_lang, cjk,
        len(list_filter(tokens, t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS en,
        len(list_filter(tokens, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS de,
        len(list_filter(tokens, t -> t IN ('le','la','les','et','est','des','un','une','dans','que'))) AS fr,
        len(list_filter(tokens, t -> t IN ('el','los','las','es','y','un','una','en','del','por'))) AS es
      FROM toks
    )
    SELECT predicted_lang, count(*) AS n_docs
    FROM (
      SELECT CASE
        WHEN cjk > 0 THEN 'zh'
        WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        WHEN fr >= es AND fr > 0 THEN 'fr'
        WHEN es > 0 THEN 'es'
        ELSE 'unknown' END AS predicted_lang
      FROM hits
    )
    GROUP BY predicted_lang
    """,
)
def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword/CJK language-ID distribution over the corpus."""
    from pdf_brain_spark.functions.text import lang_id

    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(lang_id("text").alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "doc_fingerprints",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(tokens) - 1, 1)),
                            i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]) AS shingles
      FROM toks
    )
    SELECT doc_id,
           list_min(list_transform(shingles,
             s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))) AS fingerprint
    FROM sh
    ORDER BY doc_id
    LIMIT 100
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint: min portable-hash over 3-gram
    shingles (document fingerprinting for incremental dedup)."""
    from pdf_brain_spark.functions.text import doc_fingerprint

    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
        .orderBy("doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Dedup suite (beyond-reference, BASELINE.json first-class)
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keep_id
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via hash-groupBy (single shuffle)."""
    from pdf_brain_spark.operators.dedup import exact_duplicates

    return exact_duplicates(load_table(spark, "documents", sf_dir))


_DUCK_SHINGLES = """
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(tokens) - 1, 1)),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))) AS shingle
      FROM toks
    )
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    -- stop-shingle df cap mirrored from the Spark inverted index: shingles
    -- shared by more than SHINGLE_DF_CAP distinct contents are dropped
    -- (documents here have unique contents, so doc-count == content-count)
    kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(DISTINCT doc_id) <= {SHINGLE_DF_CAP}
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(intersection AS DOUBLE) / (sa.set_size + sb.set_size - intersection), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(intersection AS DOUBLE) / (sa.set_size + sb.set_size - intersection) >= 0.08
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs via shingle inverted index (no cross
    product)."""
    from pdf_brain_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load_table(spark, "documents", sf_dir), threshold=0.08)


def _minhash_sig_sql() -> str:
    from pdf_brain_spark.operators.dedup import MINHASH_HASHES, MINHASH_PRIME, _minhash_coeffs

    cols = []
    for j in range(MINHASH_HASHES):
        a, b = _minhash_coeffs(j)
        cols.append(f"min((base * {a} + {b}) % {MINHASH_PRIME}) AS h{j}")
    return (
        "SELECT doc_id, "
        + ", ".join(cols)
        + " FROM (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 7)) AS BIGINT) AS base FROM sh)"
        + " GROUP BY doc_id"
    )


_DUCK_MINHASH_SIG = _minhash_sig_sql()


def _minhash_banded_sql() -> str:
    """`banded` CTE body generated from the SAME (bands, rows) constants the
    Spark operator uses — retuning the s-curve can't desync the oracle."""
    from pdf_brain_spark.operators.dedup import MINHASH_BANDS, MINHASH_HASHES

    rpb = MINHASH_HASHES // MINHASH_BANDS
    parts = []
    for b in range(MINHASH_BANDS):
        hs = ", ".join(f"h{b * rpb + r}" for r in range(rpb))
        cols = f"doc_id, {b} AS band, md5(concat_ws('_', {hs})) AS bucket" if b == 0 else f"doc_id, {b}, md5(concat_ws('_', {hs}))"
        parts.append(f"SELECT {cols} FROM sig")
    return "\n      UNION ALL\n      ".join(parts)


_DUCK_MINHASH_BANDED = _minhash_banded_sql()


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      {_DUCK_MINHASH_BANDED}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 16 portable hashes, 8 bands × 2 rows
    (s-curve midpoint ≈ 0.35, matched to the verify threshold)."""
    from pdf_brain_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load_table(spark, "documents", sf_dir))


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      {_DUCK_MINHASH_BANDED}
    )
    -- pairs involving at least one NEW doc (doc_id >= 400): with a < b,
    -- "at least one new" is exactly b >= 400
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE b.doc_id >= 400
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup — the continuous-crawl shape: docs
    with doc_id < 400 are the ALREADY-INDEXED corpus (their banded LSH
    rows persisted to parquet, read back, never re-shingled in the
    incremental pass), docs >= 400 are the arriving batch. The batch's
    band rows probe (index ∪ batch) on (band, bucket), emitting exactly
    the candidate pairs that involve a new document. The oracle re-derives
    the SAME pairs from a full-corpus banding restricted to new-involving
    pairs — so the gate proves the incremental path loses nothing vs the
    batch recompute it replaces."""
    import shutil
    import tempfile

    from pdf_brain_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_banded_index,
    )

    docs = load_table(spark, "documents", sf_dir)
    existing = docs.filter(F.col("doc_id") < 400)
    new_batch = docs.filter(F.col("doc_id") >= 400)
    # persist the index exactly as a production pipeline would, and read
    # it back: the incremental pass must work from the stored artifact.
    # The result is materialized (eager localCheckpoint) before the
    # scratch index is removed, so repeated gate runs don't grow /tmp.
    idx_dir = tempfile.mkdtemp(prefix="sgraft_lsh_idx_")
    try:
        minhash_banded_index(existing).write.mode("overwrite").parquet(idx_dir)
        index_banded = spark.read.parquet(idx_dir)
        new_banded = minhash_banded_index(new_batch)
        return (
            incremental_lsh_candidates(index_banded, new_banded)
            .orderBy("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS th FROM toks
    ),
    bits AS (
      SELECT doc_id, b.bit, CASE WHEN (th >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS v
      FROM hashed, (SELECT unnest(range(32)) AS bit) b
    ),
    votes AS (SELECT doc_id, bit, sum(v) AS vote FROM bits GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    ORDER BY doc_id LIMIT 100
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit simhash fingerprints (bitwise majority of token hashes)."""
    from pdf_brain_spark.operators.dedup import simhash_fingerprints

    docs = load_table(spark, "documents", sf_dir)
    return simhash_fingerprints(docs).orderBy("doc_id").limit(100)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_DUCK_COS.format(a='a.embedding', b='b.embedding')} /
                 ({_DUCK_NORM.format(a='a.embedding')} * {_DUCK_NORM.format(a='b.embedding')}), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_DUCK_COS.format(a='a.embedding', b='b.embedding')} /
          ({_DUCK_NORM.format(a='a.embedding')} * {_DUCK_NORM.format(a='b.embedding')}) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.45 (exact baseline)."""
    from pdf_brain_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(load_table(spark, "embeddings", sf_dir), threshold=0.45)


@query(
    "dedup_embedding_ann",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_DUCK_COS.format(a='a.embedding', b='b.embedding')} /
                 ({_DUCK_NORM.format(a='a.embedding')} * {_DUCK_NORM.format(a='b.embedding')}), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_DUCK_COS.format(a='a.embedding', b='b.embedding')} /
          ({_DUCK_NORM.format(a='a.embedding')} * {_DUCK_NORM.format(a='b.embedding')}) >= 0.45
    """,
)
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-candidates near-dup pairs ≥ 0.45 through the full IVF-bucketed
    path — spherical-IVF assignment, per-list exact BLAS re-rank, cross-
    list max-collapse — run with an EXHAUSTIVE multi-assign
    (n_assign = n_lists, same play as ann_ivf_topk): every vector lands
    in every list, so candidate generation is provably lossless and the
    result MUST equal the exact tiled self-join the oracle re-derives.
    This driver-checks the whole bucketing machinery (assignment explode,
    per-list pair kernel, id_a<id_b orientation, duplicate-pair collapse,
    rounding) rather than the seeded centroid geometry. Approximation
    quality at n_assign < n_lists — the actual 100 TB operating point
    (n²/2 → Σ|list|²/2 work) — stays quantified by
    embedding_neardup_recall and bench `neardup_ann_32k`."""
    from pdf_brain_spark.operators.dedup import embedding_near_dup_ann

    return embedding_near_dup_ann(
        load_table(spark, "embeddings", sf_dir),
        threshold=0.45,
        n_lists=8,
        n_assign=8,
    )


@query(
    "duplicate_span_report",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(arr, i, i + 7), ' ') AS gram
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(arr) - 7)) AS i) s
      WHERE len(arr) >= 8
    ),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    seeds AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
      FROM seeds
    ),
    islands AS (
      SELECT doc_id, pos,
             sum(CASE WHEN pos - prev_pos > 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged
    )
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + 7 AS span_end,
           max(pos) + 7 - min(pos) + 1 AS span_tokens,
           count(*) AS n_seeds
    FROM islands
    GROUP BY doc_id, island
    """,
)
def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate spans (Lee et al. 2022 ExactSubstr at
    the token-8-gram grain): maximal token spans in which every token is
    covered by some 8-gram appearing in >= 2 distinct documents — the
    regions a training pipeline would cut while keeping the rest of the
    doc. Fully native pipeline
    (zip_with positional shingles → xxhash64 → count_distinct groupBy →
    left_semi → gaps-and-islands window); the oracle re-derives the same
    spans from the gram TEXT, so a hash-green row also certifies the
    int64 gram-hash shuffle key loses nothing."""
    from pdf_brain_spark.operators.dedup import duplicate_spans

    return duplicate_spans(load_table(spark, "documents", sf_dir), k=8, min_docs=2)


@query(
    "cut_duplicate_spans",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(arr, i, i + 7), ' ') AS gram
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(arr) - 7)) AS i) s
      WHERE len(arr) >= 8
    ),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    seeds AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
      FROM seeds
    ),
    islands AS (
      SELECT doc_id, pos,
             sum(CASE WHEN pos - prev_pos > 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      FROM islands GROUP BY doc_id, island
    ),
    toks AS (
      SELECT doc_id, i - 1 AS pos, arr[i] AS tok
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) s
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN spans sp
        ON t.doc_id = sp.doc_id AND t.pos BETWEEN sp.s AND sp.e
      WHERE sp.doc_id IS NULL
    ),
    kept_agg AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    span_agg AS (
      SELECT doc_id, count(*) AS n_spans_cut FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id,
           coalesce(k.clean_text, '') AS clean_text,
           len(b.arr) AS n_tokens,
           len(b.arr) - coalesce(k.n_kept, 0) AS tokens_removed,
           coalesce(sa.n_spans_cut, 0) AS n_spans_cut
    FROM base b
    LEFT JOIN kept_agg k USING (doc_id)
    LEFT JOIN span_agg sa USING (doc_id)
    """,
)
def cut_duplicate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-cut corpus surgery (operators/dedup.py::cut_duplicate_spans):
    the cleaned corpus the ExactSubstr pipeline actually emits — every
    doc retained, its cross-document duplicated spans removed from the
    normalized token stream, offsets reported. The oracle re-derives the
    identical spans from the gram TEXT and re-assembles the kept tokens
    with string_agg, so a hash-green row certifies both the cut
    positions and the surviving text byte-for-byte."""
    from pdf_brain_spark.operators.dedup import cut_duplicate_spans

    return cut_duplicate_spans(
        load_table(spark, "documents", sf_dir), k=8, min_docs=2
    )


@query(
    "embedding_neardup_recall",
    oracle=f"""
    WITH {_DUCK_CENTROIDS.strip()},
    lists AS (
      SELECT vec_id, lst FROM (
        SELECT e.vec_id, c.label AS lst,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_duck_cosine_distance('e.embedding', 'c.centroid')} ASC,
                          c.label ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn <= 3
    ),
    exact AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_DUCK_COS.format(a='a.embedding', b='b.embedding')}
            / ({_DUCK_NORM.format(a='a.embedding')}
               * {_DUCK_NORM.format(a='b.embedding')}) >= 0.45
    ),
    cand AS (
      SELECT DISTINCT la.vec_id AS id_a, lb.vec_id AS id_b
      FROM lists la JOIN lists lb
        ON la.lst = lb.lst AND la.vec_id < lb.vec_id
    ),
    m AS (
      SELECT (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM exact e
              JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b) AS n_matched
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_matched AS BIGINT) AS n_ann,
           CAST(n_matched AS BIGINT) AS n_matched,
           CAST(0 AS BIGINT) AS n_false_positive,
           CAST(n_matched * 1000000 // greatest(n_exact, 1) AS BIGINT)
             AS recall_ppm,
           CASE WHEN n_matched > 0 THEN 0.0 ELSE NULL END AS max_sim_diff
    FROM m
    """,
)
def embedding_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-exact report for the ANN-candidates near-dup scale path:
    spherical-IVF multi-assign candidates → within-list exact BLAS re-rank
    (embedding_near_dup_ann) compared against the exact tiled self-join
    (embedding_near_dup_pairs) at the same threshold. Columns are the
    invariants: ANN pairs must be a SUBSET of exact pairs with identical
    similarities (n_false_positive = 0, max_sim_diff = 0), recall is the
    approximation's price. Previously rows-only (seeded Lloyd's fit);
    now ORACLED by the deterministic-quantizer play (VERDICT r9 item 2):
    the gate injects the per-label-mean centroids into the PRODUCTION
    operator's `centroids` seam, and the DuckDB twin replays candidate
    generation (top-3 lists by cosine, lowest-label ties), the exact
    pair set, and their intersection — so the measured n_ann /
    n_false_positive / max_sim_diff are hash-compared against what the
    subset invariant REQUIRES them to be, and recall is an exact ppm.
    The stochastic-fit recall stays pytest-attested
    (tests/test_dedup_scale.py)."""
    from pdf_brain_spark.operators.clustering import label_centroids
    from pdf_brain_spark.operators.dedup import (
        embedding_near_dup_ann,
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cent_rows = label_centroids(emb).orderBy("label").collect()
    centroids = [[float(x) for x in r["centroid"]] for r in cent_rows]
    exact = embedding_near_dup_pairs(emb, threshold=0.45).select(
        "id_a", "id_b", F.col("cos_sim").alias("exact_sim")
    )
    ann = embedding_near_dup_ann(
        emb, threshold=0.45, centroids=centroids
    ).select("id_a", "id_b", F.col("cos_sim").alias("ann_sim"))
    joined = exact.join(ann, ["id_a", "id_b"], "full_outer")
    return joined.agg(
        F.sum(F.when(F.col("exact_sim").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_exact"),
        F.sum(F.when(F.col("ann_sim").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_ann"),
        F.sum(
            F.when(F.col("exact_sim").isNotNull() & F.col("ann_sim").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_matched"),
        F.sum(
            F.when(F.col("exact_sim").isNull() & F.col("ann_sim").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_false_positive"),
        F.round(
            F.max(
                F.when(
                    F.col("exact_sim").isNotNull() & F.col("ann_sim").isNotNull(),
                    F.abs(F.col("exact_sim") - F.col("ann_sim")),
                )
            ),
            6,
        ).alias("max_sim_diff"),
    ).select(
        "n_exact", "n_ann", "n_matched", "n_false_positive",
        F.expr("(n_matched * 1000000) div greatest(n_exact, 1L)")
        .alias("recall_ppm"),
        "max_sim_diff",
    )


# --------------------------------------------------------------------------
# Events: windows / sessionization (SURVEY §2.10 extension; §2.5 analogs)
# --------------------------------------------------------------------------


@query(
    "events_tumbling_window",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             count(*) AS n, sum(value) AS sv
      FROM events
      GROUP BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
    )
    SELECT event_type, '1h' AS tier, window_start,
           n AS n_events, round(sv, 4) AS total_value
    FROM hourly
    UNION ALL
    SELECT event_type, '1d' AS tier,
           time_bucket(INTERVAL 1 DAY, window_start) AS window_start,
           CAST(sum(n) AS BIGINT) AS n_events, round(sum(sv), 4) AS total_value
    FROM hourly
    GROUP BY event_type, time_bucket(INTERVAL 1 DAY, window_start)
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation as a hypertable-style continuous
    aggregate (tiered rollup): the 1-hour tier aggregates raw events
    once — the batch shape of the Structured Streaming pipeline in
    streaming/events.py — and the 1-day tier re-aggregates the HOURLY
    partials, not the facts (×24 less input at 100 TB; the
    TimescaleDB/materialized-rollup pattern expressed as one Spark plan
    with reuse of the finest-tier aggregate)."""
    from pdf_brain_spark.operators.temporal import tiered_time_rollup

    ev = load_table(spark, "events", sf_dir)
    return tiered_time_rollup(ev, "ts", ["event_type"], "value")


@query(
    "events_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    LIMIT 100
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization via lag + running sum — the batch twin
    of a session-window streaming aggregation (shared kernel:
    operators/temporal.py::with_session_ids, exact-microsecond gaps)."""
    from pdf_brain_spark.operators.temporal import with_session_ids

    ev = load_table(spark, "events", sf_dir)
    sess = with_session_ids(ev)
    return (
        sess.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
        .limit(100)
    )


@query(
    "events_sessionize_salted",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    LIMIT 100
    """,
)
def events_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened sessionize twin (VERDICT r3 item 6): the two-pass
    time-bucket-salted operator MUST produce exactly the sessions of the
    classic per-key window — so it shares events_sessionize's oracle.
    Per-task input is bounded by the (key, bucket) row count, not the
    hottest key's total (tests/test_temporal.py asserts equality under
    100x skew and the bounded group size)."""
    from pdf_brain_spark.operators.temporal import sessionize_salted

    ev = load_table(spark, "events", sf_dir)
    sess = sessionize_salted(
        ev, "user_id", ts_col="ts", gap_seconds=1800,
        bucket_span="6 hours", order_cols=("event_id",),
    )
    return (
        sess.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
        .limit(100)
    )


@query(
    "events_top_per_user",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
      FROM events
    )
    SELECT user_id, event_id, event_type, round(value, 6) AS value
    FROM ranked WHERE rn = 1
    ORDER BY user_id LIMIT 100
    """,
)
def events_top_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-per-group via ranking window (reference W4 shape)."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
        .orderBy("user_id")
        .limit(100)
    )


@query(
    "events_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99,
           round(avg(CAST(json_extract(props, '$.k') AS INTEGER)), 6) AS avg_k,
           CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) > 50
               THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events GROUP BY event_type
    """,
)
def events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type (reference W5 latency percentiles)
    plus the JSON escape-hatch aggregates (§2.8 JSON group: props parsed
    once with from_json into a native struct at the boundary, never
    string-ops in the hot path) — one scan, one shuffle. At 100 TB you'd
    switch to approx_percentile; exact keeps the oracle.
    `events_json_props` stays registered as the standalone JSON API."""
    ev = load_table(spark, "events", sf_dir)
    parsed = ev.withColumn("p", F.from_json("props", "k int"))
    return parsed.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.round(F.avg(F.col("p.k")), 6).alias("avg_k"),
        F.sum(F.when(F.col("p.k") > 50, 1).otherwise(0)).alias("n_high"),
    )


# --------------------------------------------------------------------------
# Recursive transitive closure (SURVEY §2.3 J5) — path doubling
# --------------------------------------------------------------------------


@query(
    "transitive_closure",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT o_orderkey AS node, o_orderkey // 2 AS other, 1 AS depth
      FROM orders WHERE o_orderkey > 1 AND o_orderkey <= 64
      UNION
      SELECT a.node, e.o_orderkey // 2 AS other, a.depth + 1
      FROM anc a JOIN orders e ON e.o_orderkey = a.other
      WHERE e.o_orderkey > 1
    ),
    descn AS (
      SELECT o_orderkey // 2 AS node, o_orderkey AS other, 1 AS depth
      FROM orders
      WHERE o_orderkey > 1 AND o_orderkey <= 4096 AND o_orderkey // 2 <= 64
      UNION
      SELECT d.node, e.o_orderkey AS other, d.depth + 1
      FROM descn d JOIN orders e ON e.o_orderkey // 2 = d.other
      WHERE e.o_orderkey > 1 AND e.o_orderkey <= 4096
    )
    SELECT node, other, depth, 'up' AS direction FROM anc
    UNION ALL
    SELECT node, other, depth, 'down' AS direction FROM descn
    """,
)
def transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH closure directions of the implicit binary tree parent(k)=k//2
    over order keys — the reference's recursive-CTE taxonomy closure
    (TaxonomyService.ts:387-423) serves ancestors AND descendants; here
    each is a path-doubling closure (operators/taxonomy.py), unioned with
    a direction tag: one broadcast join per round, ⌊log₂ depth⌋ + 1
    rounds, each stopped by a test observed on its checkpoint job. The
    descendants arm is key-bounded (≤ 4096) so the bench cost stays
    proportional to the ancestors arm."""
    from pdf_brain_spark.operators.taxonomy import descendants, transitive_ancestors

    orders = load_table(spark, "orders", sf_dir)
    # parent(k)=k//2 < k, so upward chains from seeds ≤ 64 never touch
    # edges with node > 64 and downward chains stay inside the ≤ 4096
    # bound: push that bound into the parquet scan (PushedFilters) so the
    # closure iterates over a key-bounded dimension, not the fact table —
    # the same partition pruning a partitioned taxonomy table gives at
    # 100 TB. The key graph is a tree (one parent per node), so the
    # acyclic path doubling applies: tree paths are unique, no dedup.
    # materialize the key-bounded edge dimension ONCE (single partition —
    # ≤ 4095 rows) so the two closure arms below don't each re-run the
    # parquet scan + distinct shuffle (r16 optimization, guide §2.4)
    edges = (
        orders.filter((F.col("o_orderkey") > 1) & (F.col("o_orderkey") <= 4096))
        .select(
            F.col("o_orderkey").alias("node"),
            F.floor(F.col("o_orderkey") / 2).cast("long").alias("parent"),
        )
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=True)
    )

    # The two arms are independent eager loops (a broadcast and a
    # localCheckpoint job per round); run them from a 2-thread pool so
    # one arm's per-round scheduling gaps back-fill with the other arm's
    # tasks (guide §2.6 —
    # actions are only sequential because driver code calls them
    # sequentially). Results are unioned afterwards; determinism is
    # untouched because each arm's output is independent of the other's.
    from concurrent.futures import ThreadPoolExecutor

    def _anc():
        a_edges = edges.filter(F.col("node") <= 64)
        return transitive_ancestors(a_edges, a_edges, acyclic=True).select(
            "node", F.col("ancestor").alias("other"), "depth",
            F.lit("up").alias("direction"),
        )

    def _desc():
        d_seeds = edges.filter(F.col("parent") <= 64)
        return descendants(d_seeds, edges, acyclic=True).select(
            "node", F.col("descendant").alias("other"), "depth",
            F.lit("down").alias("direction"),
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_anc, f_desc = pool.submit(_anc), pool.submit(_desc)
        anc, desc = f_anc.result(), f_desc.result()
    return anc.unionByName(desc)


# --------------------------------------------------------------------------
# Corpus analytics (SURVEY §2.4 A2/A8) + listings/lookups (P1-P3)
# --------------------------------------------------------------------------


@query(
    "keyword_topn",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS word
      FROM documents
    ),
    filtered AS (
      SELECT doc_id, word FROM toks
      WHERE word NOT IN ('the','and','of','to','a','in','is','that','it','for',
                         'on','at','by','an','be','or','as','are','was','with','this','from')
        AND length(word) > 2
    ),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM filtered GROUP BY doc_id, word),
    scored AS (
      SELECT doc_id, word,
             round(tf * least(length(word) / 4.0, 1.0), 6) AS kw_score
      FROM tf
    ),
    ranked AS (
      SELECT doc_id, word, kw_score,
             row_number() OVER (PARTITION BY doc_id ORDER BY kw_score DESC, word ASC) AS rank
      FROM scored
    )
    SELECT doc_id, word, kw_score, rank FROM ranked
    WHERE rank <= 5 AND doc_id < 50
    """,
)
def keyword_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 keywords per doc: tf × word-length dampening, stopword-filtered
    (AutoTagger.ts:463-495 shape)."""
    from pdf_brain_spark.operators.analytics import keyword_scores

    docs = load_table(spark, "documents", sf_dir)
    return keyword_scores(docs, top_n=5).filter(F.col("doc_id") < 50)


@query(
    "source_distribution",
    oracle="""
    WITH total AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    dist AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM documents GROUP BY source)
    SELECT source, n_docs,
           round(n_docs * 100.0 / t.n, 6) AS coverage_pct,
           CASE WHEN n_docs * 100.0 / t.n >= 20 THEN 'common'
                WHEN n_docs * 100.0 / t.n >= 5 THEN 'moderate'
                WHEN n_docs * 100.0 / t.n >= 1 THEN 'niche'
                ELSE 'rare' END AS usage_bucket
    FROM dist, total t
    """,
)
def source_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value distribution with the reference's coverage buckets
    (analyze-tags.ts:25-171; 'source' stands in for tags on this corpus)."""
    from pdf_brain_spark.operators.analytics import value_distribution

    docs = load_table(spark, "documents", sf_dir)
    return value_distribution(docs, "source")


@query(
    "lang_source_cooccurrence",
    oracle="""
    WITH d AS (
      SELECT DISTINCT source, lang FROM documents
    ),
    pairs AS (
      SELECT a.source, a.lang AS value_a, b.lang AS value_b
      FROM d a JOIN d b ON a.source = b.source AND a.lang < b.lang
    )
    SELECT value_a, value_b, count(*) AS n_docs
    FROM pairs GROUP BY value_a, value_b HAVING count(*) >= 2
    """,
)
def lang_source_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence pair counts (analyze-tags.ts pair analysis): which
    languages co-occur under the same source."""
    from pdf_brain_spark.operators.analytics import cooccurrence_pairs

    docs = load_table(spark, "documents", sf_dir)
    return cooccurrence_pairs(docs.select("source", "lang"), "source", "lang", min_count=2).select(
        "value_a", "value_b", "n_docs"
    )


@query(
    "doc_listing",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE lang = 'en'
    ORDER BY n_chars DESC, doc_id ASC
    LIMIT 25
    """,
)
def doc_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered listing with sort (reference P1: list documents by tag,
    ORDER BY added_at DESC; lang/n_chars stand in on this corpus)."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.filter(F.col("lang") == "en")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(25)
    )


@query(
    "doc_lookup",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
)
def doc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup by id (reference P2) — at scale this is partition-pruned
    + parquet predicate pushdown, not an index probe."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.filter(F.col("doc_id") == 42).select("doc_id", "lang", "source", "n_chars")


@query(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join integrity scan (reference J6 orphan repair shape)."""
    from pdf_brain_spark.operators.analytics import orphans

    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).select(F.col("o_custkey").alias("c_custkey"))
    return orphans(c, o, "c_custkey").select("c_custkey", "c_name").orderBy("c_custkey")


@query(
    "orders_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregation (beyond-reference relational
    completeness; Spark rollup = partial-agg friendly grouping sets)."""
    o = load_table(spark, "orders", sf_dir)
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


@query(
    "context_expansion",
    oracle="""
    WITH chunks AS (
      SELECT doc_id, source, text,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS chunk_index
      FROM documents
    ),
    hits AS (SELECT source, chunk_index FROM chunks WHERE doc_id % 100 = 0),
    joined AS (
      SELECT h.source, h.chunk_index AS hit_index, c.chunk_index AS n_idx, c.text
      FROM hits h JOIN chunks c
        ON c.source = h.source
       AND c.chunk_index BETWEEN h.chunk_index - 1 AND h.chunk_index + 1
    ),
    agg AS (
      SELECT source, hit_index,
             string_agg(text, ' ' ORDER BY n_idx) AS expanded_content,
             min(n_idx) AS expanded_start, max(n_idx) AS expanded_end
      FROM joined GROUP BY source, hit_index
    )
    SELECT source, hit_index AS chunk_index,
           md5(substr(expanded_content, 1, 4000)) AS content_hash,
           length(substr(expanded_content, 1, 4000)) AS content_len,
           expanded_start, expanded_end
    FROM agg
    """,
)
def context_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-chunk context expansion (reference J9/W6,
    LibSQLDatabase.ts:459-535): ±1 window within the same 'document'
    (source groups over the documents table), char-budget truncated. One
    range join instead of the reference's per-hit SELECT loop."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.expand import expand_context

    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    chunks = docs.select(
        "doc_id", "source", F.col("text").alias("content"), F.row_number().over(w).alias("chunk_index")
    )
    hits = chunks.filter(F.col("doc_id") % 100 == 0).select("source", "chunk_index")
    res = expand_context(hits, chunks, window=1, doc_col="source", content_col="content")
    return res.select(
        "source",
        "chunk_index",
        F.md5("expanded_content").alias("content_hash"),
        F.length("expanded_content").alias("content_len"),
        "expanded_start",
        "expanded_end",
    )


# --------------------------------------------------------------------------
# Clustering / ANN (SURVEY §2.9 M1-M5). Formerly rows-only; now oracled
# end-to-end on the exact-integer Lloyd's fit (the kmeans_fit_2iter play):
# the stochastic MLlib-style fit keeps its pytest invariants, the GATES run
# the deterministic fit both engines replay.
# --------------------------------------------------------------------------


def _duck_kmeans_fit(k: int, n_iter: int = 2, p: str = "f_") -> str:
    """CTE chain {p}c0..{p}c{n_iter} (+ per-iteration a/m/u steps) for the
    exact-integer Lloyd's fit from pinned seeds — the kmeans_fit_2iter
    oracle generalized by (k, n_iter). Expects an `x` CTE with
    (vec_id, d, v) milli-quantized components in scope. {p}c{n_iter} is
    the final centroid table (cid, d, c); {p}m{n_iter} the last
    assignment used for the update."""
    parts = [
        f"{p}c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, d, v AS c"
        f" FROM x WHERE vec_id < {k})"
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"""{p}a{i} AS (
      SELECT x.vec_id, c.cid, sum((x.v - c.c) * (x.v - c.c)) AS d2
      FROM x JOIN {p}c{i - 1} c USING (d) GROUP BY 1, 2
    )""")
        parts.append(f"""{p}m{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM {p}a{i}) WHERE rn = 1
    )""")
        parts.append(f"""{p}u{i} AS (
      SELECT m.cid, x.d, CAST(sum(x.v) // count(*) AS BIGINT) AS c
      FROM {p}m{i} m JOIN x USING (vec_id) GROUP BY 1, 2
    )""")
        parts.append(f"""{p}c{i} AS (
      SELECT b.cid, b.d, COALESCE(u.c, b.c) AS c
      FROM {p}c{i - 1} b LEFT JOIN {p}u{i} u ON u.cid = b.cid AND u.d = b.d
    )""")
    return ",\n    ".join(parts)


# shared x CTE: milli-quantized components, 64 dims, 1-indexed in DuckDB
_DUCK_QUANT_X = """
    x AS (
      SELECT e.vec_id, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
    )
"""


@query(
    "kmeans_clusters",
    oracle=f"""
    WITH {_DUCK_QUANT_X.strip()},
    {_duck_kmeans_fit(8, 2)},
    a3 AS (
      SELECT x.vec_id, c.cid, sum((x.v - c.c) * (x.v - c.c)) AS d2
      FROM x JOIN f_c2 c USING (d) GROUP BY 1, 2
    ),
    m3 AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM a3) WHERE rn = 1
    ),
    rep AS (
      SELECT cid, vec_id AS representative_id FROM (
        SELECT cid, vec_id,
               row_number() OVER (PARTITION BY cid
                 ORDER BY d2 ASC, vec_id ASC) AS rn
        FROM m3) WHERE rn = 1
    )
    SELECT s.cid AS cluster_id,
           CAST(s.n AS BIGINT) AS chunk_count,
           round(s.dsum / (s.n * 1000.0), 6) + 0.0 AS mean_distance,
           rep.representative_id
    FROM (
      SELECT cid, count(*) AS n,
             CAST(sum(CAST(round(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT))
                  AS DOUBLE) AS dsum
      FROM m3 GROUP BY 1
    ) s JOIN rep USING (cid)
    ORDER BY cluster_id
    """,
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster summaries (M3/A7/A10 shape: sizes + mean distance +
    medoid-ish representative), ORACLED: the
    model is the exact-integer 2-iteration Lloyd's fit (kmeans_fit_2iter,
    k=8), assignment to the FINAL centroids is integer argmin with
    lowest-cid ties, per-member distance quantizes ONCE to milli-units
    via the correctly-rounded (hence bit-identical) sqrt, and the means
    are one double division of exact integers, 6dp-rounded on both
    engines. Representative = argmin (d2, vec_id) per cluster — exact
    integer ties. Plan:
    fit = one Arrow pass + one (cid,dim) model-grain aggregate per
    iteration; summary = one more map-side argmin pass + one
    cluster-grain aggregate — the corpus is never shuffled."""
    from pdf_brain_spark.operators.clustering import (
        assign_stats_exact_int,
        fit_centroid_matrix,
        quantize_milli,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cmat = fit_centroid_matrix(spark, emb, k=8, dim=64, n_iter=2)
    q = quantize_milli(emb)
    # r17 (guide §2.3/§4.1): the summary pass previously ran the 8-way
    # HOF distance ladder per row and shipped every (cid, d2, vec_id) to
    # the groupBy; assign_stats_exact_int assigns and partially
    # aggregates in-kernel, and the re-aggregate below is an exact
    # integer identity (count = Σn, Σround(sqrt d2) = Σdsum, the
    # representative = lexicographic min of per-task (d2, vec_id)
    # minima). Same output rows, types, and oracle hash.
    return (
        assign_stats_exact_int(q, cmat)
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.sum("n").cast("long").alias("chunk_count"),
            F.sum("dsum").alias("_dsum"),
            F.min(F.struct(F.col("md2"), F.col("mvid")))
            .getField("mvid")
            .alias("representative_id"),
        )
        .select(
            "cluster_id",
            "chunk_count",
            F.round(
                F.col("_dsum").cast("double") / (F.col("chunk_count") * 1000.0), 6
            ).alias("mean_distance"),
            "representative_id",
        )
        .orderBy("cluster_id")
    )


# soft_clustering's determinism margins (VERDICT r10 item 3). The gate's
# hash-exactness rests on no CONSEQUENTIAL softmax probability sitting
# within libm-drift range of a 6dp rounding boundary or of the 0.1
# floor. Sizing the epsilons from the actual error budget: praw =
# exp(x)/Σexp over bit-identical inputs can drift ~10 ulps cross-engine
# (1 ulp/exp, a few in the 8-term sum, 0.5 in the divide) ≈ 1e-15
# relative ≈ 1e-10 MICRO-units at p ≤ 1, while the measured min
# boundary margin over retained rows is 3.5e-4 micro-units (sf0.001,
# this round — the r10 note's 0.22 was measured over a coarser set).
# 1e-6 micro-units sits ≥4 orders above drift and ≥2 orders below the
# measured margin: the boolean flags a testdata regen that lands a
# retained probability ON a boundary without flapping on engine noise.
# The floor epsilon separates "rounded value exactly AT 0.1" (margin 0)
# from the nearest representable non-floor value (margin ≈ 1e-6).
SOFT_BOUNDARY_EPS_MICRO = 1e-6
SOFT_FLOOR_EPS = 5e-7


def _soft_margin_flags(probs: DataFrame) -> DataFrame:
    """1-row contract booleans over soft_clustering's PRE-FILTER
    probability set (`_praw` raw softmax double, `probability` its
    6dp-rounded form), scoped to the probabilities whose rounding is
    CONSEQUENTIAL: boundary_margin_ok — every raw value that is
    retained OR one rounding step below the floor (rounded 0.099999:
    its rounding IS the retention decision, the one-sided blind spot
    the r11 review caught) stays further than SOFT_BOUNDARY_EPS_MICRO
    micro-units from the nearest x.5 rounding boundary; floor_margin_ok
    — EVERY rounded value stays further than SOFT_FLOOR_EPS from the
    0.1 retention floor (a row rounding to ≤ 0.099998 sits > 1
    micro-unit below the retention boundary, where no drift can flip
    it — over the full 800-value pre-filter set the unconditional min
    boundary distance is ~0.5/800 micro-units by uniformity,
    meaningless noise). The twin pins both TRUE (the invariant-boolean
    play), so an on-boundary probability fails the driver hash by
    name. Pytest drives both flags FALSE on synthetic on-boundary
    fixtures, including the just-below-floor side."""
    um = F.col("_praw") * F.lit(1000000.0)
    bm = F.when(
        F.col("probability") > 0.0999985,
        F.abs(um - F.floor(um) - F.lit(0.5)),
    )
    fm = F.abs(F.col("probability") - F.lit(0.1))
    return probs.agg(
        (F.min(bm) > F.lit(SOFT_BOUNDARY_EPS_MICRO)).alias("boundary_margin_ok"),
        (F.min(fm) > F.lit(SOFT_FLOOR_EPS)).alias("floor_margin_ok"),
    )


@query(
    "soft_clustering",
    oracle=f"""
    WITH {_DUCK_QUANT_X.strip()},
    {_duck_kmeans_fit(8, 2)},
    a3 AS (
      SELECT x.vec_id, c.cid, sum((x.v - c.c) * (x.v - c.c)) AS d2
      FROM x JOIN f_c2 c USING (d)
      WHERE x.vec_id < 100 GROUP BY 1, 2
    ),
    neg AS (
      SELECT vec_id, cid,
             -sqrt(CAST(d2 AS DOUBLE)) / 500.0 AS neg
      FROM a3
    ),
    e AS (
      SELECT vec_id, cid,
             exp(neg - max(neg) OVER (PARTITION BY vec_id)) AS ev
      FROM neg
    ),
    p AS (
      SELECT vec_id, cid,
             round(ev / sum(ev) OVER (PARTITION BY vec_id), 6) AS probability
      FROM e
    )
    SELECT vec_id, cid AS cluster_id, probability + 0.0 AS probability,
           TRUE AS boundary_margin_ok, TRUE AS floor_margin_ok
    FROM p WHERE probability >= 0.1
    """,
)
def soft_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Softmax(-d/T) soft membership (M5/A6, Clustering.ts:217-224),
    T=0.5, p >= 0.1, max-shifted like the reference — the LAST formerly
    rows-only clustering surface, now ORACLED on the exact-integer fit
    (kmeans_fit_2iter, k=8): distances to the final integer centroids
    are exact integer d2, sqrt is IEEE-correctly-rounded (bit-identical
    on both engines), and the softmax is the identical exp/shift/
    normalize sequence over those bit-identical doubles, rounded ONCE to
    6dp before the 0.1 floor is applied — three-scale attested that no
    probability sits within float-disagreement range of either the
    rounding boundary or the floor. Those margins are now GUARDED
    IN-GATE, not just measured (VERDICT r10 item 3): the gate emits
    `boundary_margin_ok` / `floor_margin_ok` contract booleans the twin
    pins TRUE — computed by _soft_margin_flags over EVERY pre-filter
    probability, TRUE iff the nearest raw value stays further than
    SOFT_BOUNDARY_EPS_MICRO from a 6dp rounding boundary and the nearest
    rounded value further than SOFT_FLOOR_EPS from the 0.1 floor — so a
    testdata regen that lands a probability on a boundary fails the
    driver hash BY NAME instead of by silent hash diff. Bounded output: query
    rows are vec_id < 100 at every scale; the softmax itself is
    map-side over broadcast centroids."""
    from pdf_brain_spark.operators.clustering import (
        fit_centroid_matrix,
        quantize_milli,
        quantized_d2,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cmat = fit_centroid_matrix(spark, emb, k=8, dim=64, n_iter=2)
    q = quantize_milli(emb.filter(F.col("vec_id") < 100))
    negs = F.array(*[
        -F.sqrt(quantized_d2("q", cmat[c]).cast("double")) / 500.0
        for c in range(8)
    ])
    probs = (
        q.select("vec_id", negs.alias("_negs"))
        .withColumn("_m", F.array_max("_negs"))
        .withColumn("_es", F.transform("_negs", lambda x: F.exp(x - F.col("_m"))))
        .withColumn(
            "_s",
            F.aggregate("_es", F.lit(0.0), lambda acc, v: acc + v),
        )
        .select(
            "vec_id",
            F.posexplode(
                F.transform(
                    "_es",
                    lambda e: F.struct(
                        (e / F.col("_s")).alias("praw"),
                        F.round(e / F.col("_s"), 6).alias("p6"),
                    ),
                )
            ).alias("cluster_id", "_p"),
        )
        .select(
            "vec_id",
            "cluster_id",
            F.col("_p.praw").alias("_praw"),
            F.col("_p.p6").alias("probability"),
        )
        .localCheckpoint(eager=True)  # bounded (≤100×8); flags + output
    )
    flags = _soft_margin_flags(probs)
    return (
        probs.filter(F.col("probability") >= 0.1)
        .crossJoin(F.broadcast(flags))  # broadcast 1-row contract flags
        .select(
            "vec_id",
            "cluster_id",
            "probability",
            "boundary_margin_ok",
            "floor_margin_ok",
        )
    )


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 7),
    scored AS (
      SELECT e.vec_id, e.label,
             {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
      FROM embeddings e, q
    )
    SELECT vec_id, label,
           round(d, 6) + 0.0 AS distance,
           round(1.0 - d / 2.0, 6) AS score
    FROM scored
    ORDER BY d ASC, vec_id ASC
    LIMIT 12
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k through the full index path (DiskANN stand-in, M1) with
    an EXHAUSTIVE probe (n_probes = n_lists): KMeans-assign the corpus to
    16 lists, then probe all of them. By construction this must equal the
    exact brute-force top-k — the driver-checkable invariant that the IVF
    partitioning is LOSSLESS (kmeans_assign drops or double-routes no
    row, the probe filter and re-rank are exact). Approximation quality
    at n_probes < n_lists is quantified separately (ann_recall_report,
    bench IVF sections); re-ranked scores are exact in both regimes."""
    from pdf_brain_spark.operators.ann import ivf_index, ivf_search

    emb = load_table(spark, "embeddings", sf_dir)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    indexed, centroids = ivf_index(emb, n_lists=16, seed=42)
    res = ivf_search(indexed, centroids, qvec, k=12, n_probes=16)
    return res.select(
        "vec_id",
        "label",
        (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
        F.round("score", 6).alias("score"),
    )


# --------------------------------------------------------------------------
# Ingest pipeline shapes (SURVEY §3.2 S2/S3/M6/M7) — python-UDF stages, so
# now FULLY oracle-gated: the fixture texts contain no sentence punctuation,
# newlines, or tabs (asserted in tests/test_chunking.py), so the reference
# chunker's behavior on them reduces to a closed form DuckDB can re-derive —
# whitespace-collapse + trim, then either one whole-text chunk (≤512) or
# hard-split 512-char windows at stride 462 (512−50 overlap), trimmed, with
# the >20-char tiny-chunk filter. The md5-arithmetic hash-embedding double
# is likewise re-derived component-by-component via md5_number_lower.
# The general (punctuated, multi-paragraph) splitting rules stay
# known-answer-tested in tests/test_chunking.py.
# --------------------------------------------------------------------------

# DuckDB twin of chunk_text() on punctuation-free single-paragraph text:
# shared by the chunk_pipeline and embed_pipeline oracles.
_CHUNK_ORACLE_CTE = """
    docs AS (
      SELECT doc_id::VARCHAR AS doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS c
      FROM documents WHERE doc_id < 100
    ),
    slices AS (
      SELECT doc_id, 0 AS off, trim(c) AS content FROM docs WHERE length(c) <= 512
      UNION ALL
      SELECT d.doc_id, s.off, trim(substr(d.c, s.off + 1, 512)) AS content
      FROM docs d, LATERAL (SELECT unnest(generate_series(0, length(d.c) - 1, 462)) AS off) s
      WHERE length(d.c) > 512
    ),
    chunks AS (
      SELECT doc_id,
             (row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1) AS chunk_index,
             content
      FROM slices WHERE length(content) > 20
    )
"""


@query(
    "chunk_pipeline",
    oracle=f"""
    WITH {_CHUNK_ORACLE_CTE}
    SELECT doc_id,
           count(*) AS n_chunks,
           max(length(content))::INT AS max_chunk_len,
           'Doc ' || doc_id AS fm_title,
           2 AS n_sections
    FROM chunks GROUP BY doc_id ORDER BY doc_id
    """,
)
def chunk_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk the documents corpus with the reference chunker (S2 shape:
    pandas UDF + posexplode) AND run the markdown extraction path
    (S3/S4, MarkdownExtractor.ts: YAML frontmatter fast-path +
    heading-delimited section split) over synthesized markdown for the
    same documents — per-doc chunk counts joined with section stats.
    Oracle re-derives the chunker in SQL (see _CHUNK_ORACLE_CTE);
    `markdown_sections` stays registered as the standalone S3 API."""
    import pandas as pd

    from pdf_brain_spark.functions.chunking import extract_frontmatter, extract_sections
    from pdf_brain_spark.operators.ingest import chunk_documents

    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 100)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    chunks = chunk_documents(docs, text_col="text")
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"), F.max(F.length("content")).alias("max_chunk_len")
    )

    md = docs.select(
        "doc_id",
        F.concat(
            F.lit("---\ntitle: Doc "), F.col("doc_id"),
            F.lit("\nlang: "), F.col("lang"),
            F.lit("\n---\n# Intro\n"), F.substring("text", 1, 120),
            F.lit("\n## Body\n"), F.substring("text", 121, 200),
        ).alias("md"),
    )

    def _extract(batches):
        for pdf in batches:
            fm = pdf["md"].map(lambda t: extract_frontmatter(t).get("title", ""))
            secs = pdf["md"].map(lambda t: len(extract_sections(t)))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "fm_title": fm, "n_sections": secs}
            )

    md_stats = md.mapInPandas(_extract, schema="doc_id string, fm_title string, n_sections int")
    return per_doc.join(md_stats, "doc_id").orderBy("doc_id")


@query(
    "embed_pipeline",
    oracle=f"""
    WITH {_CHUNK_ORACLE_CTE},
    ids AS (
      SELECT doc_id || '-' || chunk_index::VARCHAR AS chunk_id, content FROM chunks
    ),
    comps AS (
      SELECT chunk_id, i,
             (md5_number_lower(content || ':' || i::VARCHAR)
              / 18446744073709551616.0) * 2.0 - 1.0 AS u
      FROM ids, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) g
    ),
    normed AS (
      SELECT chunk_id, i,
             (u / sqrt(sum(u * u) OVER (PARTITION BY chunk_id)))::FLOAT AS comp
      FROM comps
    )
    SELECT chunk_id,
           count(*)::INT AS dim,
           CASE WHEN count(*) = 64
                 AND bool_and(isfinite(comp)) THEN 1 ELSE 0 END AS valid,
           round(max(CASE WHEN i = 0 THEN comp END)::DOUBLE, 6) AS comp_first,
           round(max(CASE WHEN i = 31 THEN comp END)::DOUBLE, 6) AS comp_mid,
           round(max(CASE WHEN i = 63 THEN comp END)::DOUBLE, 6) AS comp_last
    FROM normed GROUP BY chunk_id ORDER BY chunk_id
    """,
)
def embed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk + deterministic-embed pipeline (M6/M7 shape: mapInPandas with
    Arrow batches). Per-chunk embedding components are pinned by value: the
    oracle re-derives the md5-arithmetic hash-embedding double entirely in
    DuckDB (md5_number_lower == md5 digest bytes [8:16] little-endian,
    verified), normalizing in float64 and casting to float32 exactly as
    deterministic_embedding does."""
    from pdf_brain_spark.functions.vector import is_valid_embedding
    from pdf_brain_spark.operators.ingest import EMBED_DIM, chunk_documents, embed_chunks

    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 100)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    emb = embed_chunks(chunk_documents(docs, text_col="text"))
    return emb.select(
        "chunk_id",
        F.size("embedding").alias("dim"),
        F.when(is_valid_embedding("embedding", EMBED_DIM), 1).otherwise(0).alias("valid"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("comp_first"),
        F.round(F.element_at("embedding", 32).cast("double"), 6).alias("comp_mid"),
        F.round(F.element_at("embedding", 64).cast("double"), 6).alias("comp_last"),
    ).orderBy("chunk_id")


# --------------------------------------------------------------------------
# Taxonomy 1-hop + related (SURVEY §2.3 J4, §2.7 U3) on the same implicit
# binary tree as transitive_closure
# --------------------------------------------------------------------------


@query(
    "taxonomy_one_hop",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_orderkey AS node, o_orderkey // 2 AS parent
      FROM orders WHERE o_orderkey > 1
    ),
    sib AS (SELECT parent, count(*) AS n_children FROM edges GROUP BY parent)
    SELECT e.node, e.parent, s.n_children
    FROM edges e JOIN sib s ON e.parent = s.parent
    WHERE e.node <= 64
    ORDER BY e.node
    """,
)
def taxonomy_one_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct broader/narrower joins (reference J4,
    TaxonomyService.ts:359-385): each node's parent plus the parent's child
    count — dimension-sized broadcast joins."""
    orders = load_table(spark, "orders", sf_dir)
    edges = (
        orders.filter(F.col("o_orderkey") > 1)
        .select(
            F.col("o_orderkey").alias("node"),
            F.floor(F.col("o_orderkey") / 2).cast("long").alias("parent"),
        )
        .distinct()
    )
    sib = edges.groupBy("parent").agg(F.count(F.lit(1)).alias("n_children"))
    return (
        edges.join(F.broadcast(sib), "parent")
        .filter(F.col("node") <= 64)
        .select("node", "parent", "n_children")
        .orderBy("node")
    )


@query(
    "taxonomy_related",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_orderkey AS node, o_orderkey // 2 AS parent
      FROM orders WHERE o_orderkey > 1
    )
    SELECT a.node AS concept_id, b.node AS related_id
    FROM edges a JOIN edges b ON a.parent = b.parent AND a.node <> b.node
    WHERE a.node <= 32
    ORDER BY concept_id, related_id
    """,
)
def taxonomy_related(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric 'related' edges stored both directions (reference
    TaxonomyService.ts:429-445): sibling pairs under the same parent, each
    pair emitted in both orientations by the symmetric self-join."""
    orders = load_table(spark, "orders", sf_dir)
    edges = (
        orders.filter(F.col("o_orderkey") > 1)
        .select(
            F.col("o_orderkey").alias("node"),
            F.floor(F.col("o_orderkey") / 2).cast("long").alias("parent"),
        )
        .distinct()
    )
    a = edges.select("parent", F.col("node").alias("concept_id"))
    b = edges.select("parent", F.col("node").alias("related_id"))
    return (
        a.join(b, "parent")
        .filter(F.col("concept_id") != F.col("related_id"))
        .filter(F.col("concept_id") <= 32)
        .select("concept_id", "related_id")
        .orderBy("concept_id", "related_id")
    )


# --------------------------------------------------------------------------
# Tag-filtered vector search with over-fetch (SURVEY §2.2 P4, §4 O2) +
# fuzzy lookup (P3) + tag distribution buckets (A2)
# --------------------------------------------------------------------------


@query(
    "vector_tag_filter",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
      FROM embeddings e, q
    ),
    ranked AS (
      SELECT vec_id, label, d,
             row_number() OVER (ORDER BY d ASC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT vec_id, label, round(d, 6) + 0.0 AS distance, round(1.0 - d / 2.0, 6) AS score
    FROM ranked
    WHERE rnk <= 30 AND label IN (2, 5)
    ORDER BY d ASC, vec_id ASC
    LIMIT 10
    """,
)
def vector_tag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-ANN tag filter with the reference's over-fetch semantics
    (P4/O2, LibSQLDatabase.ts:340,345-357): fetch k×3 candidates, THEN
    filter by tag (label stands in), re-limit to k. The over-fetch factor
    is a recall knob, not an optimization — Catalyst must not reorder the
    filter below the limit."""
    from pdf_brain_spark.operators.vector_search import topk

    emb = load_table(spark, "embeddings", sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    res = topk(emb, [float(x) for x in qv], k=10, post_filter=F.col("label").isin(2, 5))
    return res.select(
        "vec_id", "label",
        (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
        F.round("score", 6).alias("score"),
    )


@query(
    "fuzzy_doc_lookup",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE CAST(doc_id AS VARCHAR) LIKE '42%' OR contains(source, 'rc1')
    ORDER BY doc_id
    """,
)
def fuzzy_doc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy get-by-id-or-title (reference P3, src/index.ts:433-448):
    id-prefix match OR case-insensitive substring over a text field."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.filter(
            F.col("doc_id").cast("string").startswith("42")
            | F.col("source").contains("rc1")
        )
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "tag_distribution",
    oracle="""
    WITH total AS (SELECT count(*) AS n FROM documents),
    tags AS (SELECT doc_id, unnest([lang, source]) AS tag FROM documents),
    dist AS (SELECT tag, count(DISTINCT doc_id) AS n_docs FROM tags GROUP BY tag)
    SELECT tag, n_docs,
           round(100.0 * n_docs / t.n, 6) AS pct,
           CASE WHEN n_docs >= 0.2 * t.n THEN 'high'
                WHEN n_docs >= 0.05 * t.n THEN 'medium'
                WHEN n_docs >= 0.01 * t.n THEN 'low'
                ELSE 'rare' END AS bucket
    FROM dist, total t
    ORDER BY n_docs DESC, tag
    """,
)
def tag_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag distribution with usage buckets (reference A2,
    scripts/analyze-tags.ts:25-171): explode tags → per-tag doc counts →
    coverage % → ≥20%/5-20%/1-5%/<1% buckets. Derived tags = [lang,
    source] on this corpus."""
    docs = load_table(spark, "documents", sf_dir)
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    tags = docs.select("doc_id", F.explode(F.array("lang", "source")).alias("tag"))
    dist = tags.groupBy("tag").agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        dist.crossJoin(F.broadcast(total))
        .select(
            "tag",
            "n_docs",
            F.round(100.0 * F.col("n_docs") / F.col("n"), 6).alias("pct"),
            F.when(F.col("n_docs") >= 0.2 * F.col("n"), "high")
            .when(F.col("n_docs") >= 0.05 * F.col("n"), "medium")
            .when(F.col("n_docs") >= 0.01 * F.col("n"), "low")
            .otherwise("rare")
            .alias("bucket"),
        )
        .orderBy(F.col("n_docs").desc(), "tag")
    )


# --------------------------------------------------------------------------
# Multi-scale RAPTOR retrieval + cluster→concept mapping (SURVEY §2.9 M13,
# §2.3 J10, §2.5 W4, §2.7 U1) — label centroids stand in for cluster
# summaries so both sides are deterministic and oracle-able
# --------------------------------------------------------------------------

@query(
    "multiscale_retrieval",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
    {_DUCK_CENTROIDS},
    chunk_hits AS (
      SELECT entity_id, granularity, round(1.0 - d / 2.0, 6) AS score
      FROM (
        SELECT e.vec_id AS entity_id, 'chunk' AS granularity,
               {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
        FROM embeddings e, q
      ) ORDER BY d ASC, entity_id ASC LIMIT 5
    ),
    sum_hits AS (
      SELECT entity_id, granularity, round(1.0 - d / 2.0, 6) AS score
      FROM (
        SELECT CAST(c.label AS BIGINT) AS entity_id, 'cluster_summary' AS granularity,
               {_duck_cosine_distance('c.centroid', 'q.query_vec')} AS d
        FROM cent c, q
      ) ORDER BY d ASC, entity_id ASC LIMIT 3
    )
    SELECT entity_id, granularity, score
    FROM (SELECT * FROM chunk_hits UNION ALL SELECT * FROM sum_hits)
    ORDER BY score DESC, granularity ASC, entity_id ASC
    LIMIT 8
    """,
)
def multiscale_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAPTOR multi-scale retrieval (M13, LibSQLDatabase.ts:224-322):
    probe BOTH the chunk-level index and the cluster-summary index, union,
    re-sort by score, limit — label-mean centroids stand in for summary
    embeddings. Union of two TakeOrdered arms; centroid arm is 10 rows."""
    from pdf_brain_spark.functions.vector import cosine_distance, distance_to_score
    from pdf_brain_spark.operators.vector_search import topk_by_query_df

    emb = load_table(spark, "embeddings", sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    chunk_hits = topk_by_query_df(emb, qdf, k=5).select(
        F.col("vec_id").alias("entity_id"),
        F.lit("chunk").alias("granularity"),
        F.round("score", 6).alias("score"),
    )
    from pdf_brain_spark.operators.clustering import label_centroids

    cents = label_centroids(emb)
    sum_hits = (
        cents.crossJoin(F.broadcast(qdf))
        .withColumn("distance", cosine_distance("centroid", "query_vec"))
        .orderBy(F.col("distance").asc(), F.col("label").asc())
        .limit(3)
        .select(
            F.col("label").cast("long").alias("entity_id"),
            F.lit("cluster_summary").alias("granularity"),
            F.round(distance_to_score("distance"), 6).alias("score"),
        )
    )
    return (
        chunk_hits.unionByName(sum_hits)
        .orderBy(F.col("score").desc(), F.col("granularity").asc(), F.col("entity_id").asc())
        .limit(8)
    )


@query(
    "cluster_concept_map",
    oracle=f"""
    WITH {_DUCK_CENTROIDS},
    pairs AS (
      SELECT a.label AS cluster_id, b.label AS concept_id,
             {_DUCK_COS.format(a='a.centroid', b='b.centroid')} /
             ({_DUCK_NORM.format(a='a.centroid')} * {_DUCK_NORM.format(a='b.centroid')}) AS sim
      FROM cent a JOIN cent b ON a.label <> b.label
    ),
    ranked AS (
      SELECT cluster_id, concept_id, sim,
             row_number() OVER (PARTITION BY cluster_id ORDER BY sim DESC, concept_id ASC) AS rn
      FROM pairs
    )
    SELECT cluster_id, concept_id, round(sim, 6) AS sim
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
)
def cluster_concept_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster→concept nearest match (J10/W4,
    ClusterConceptMapper.ts:80-117): argmax cosine per cluster centroid
    over the broadcast concept table (here: the other label centroids),
    rank-1 window. Cross join is |clusters|×|concepts| — dimension-sized."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.vector import cosine_similarity
    from pdf_brain_spark.operators.clustering import label_centroids

    # localCheckpoint, not cache(): this wrapper returns a lazy plan and
    # can't unpersist after the caller's collect — checkpoint blocks are
    # ContextCleaner-reclaimed instead of accumulating in the CacheManager
    cents = label_centroids(load_table(spark, "embeddings", sf_dir)).localCheckpoint(eager=True)
    a = cents.select(F.col("label").alias("cluster_id"), "centroid")
    b = cents.select(F.col("label").alias("concept_id"), F.col("centroid").alias("c_emb"))
    crossed = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("cluster_id") != F.col("concept_id"))
        .withColumn("sim", cosine_similarity("centroid", "c_emb"))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("sim").desc(), F.col("concept_id").asc())
    return (
        crossed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", "concept_id", F.round("sim", 6).alias("sim"))
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Dedup stage 2: verify + simhash pairs (SURVEY §2.9 M10 shape; training-
# data dedup extensions)
# --------------------------------------------------------------------------


@query(
    "dedup_minhash_verified",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      {_DUCK_MINHASH_BANDED}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sets AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(tokens) - 1, 1)),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS sh_set
      FROM toks
    ),
    verified AS (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE) /
             (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set))) AS j
      FROM cands
      JOIN sets sa ON sa.doc_id = doc_a
      JOIN sets sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, round(j, 6) AS jaccard
    FROM verified WHERE j >= 0.08
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-then-verify (the canonical two-stage near-dup pipeline): exact
    Jaccard computed only on LSH candidate pairs, via array_intersect over
    map-side shingle sets — never an exploded O(pairs × shingles) join."""
    from pdf_brain_spark.operators.dedup import minhash_verified_pairs

    return minhash_verified_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.08
    ).orderBy("doc_a", "doc_b")


@query(
    "dedup_simhash_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS tok
      FROM documents WHERE doc_id < 200
    ),
    hashed AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS th FROM toks
    ),
    bits AS (
      SELECT doc_id, b.bit, CASE WHEN (th >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS v
      FROM hashed, (SELECT unnest(range(60)) AS bit) b
    ),
    votes AS (SELECT doc_id, bit, sum(v) AS vote FROM bits GROUP BY doc_id, bit),
    fp AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-dup pairs: hamming(fingerprint_a, fingerprint_b) ≤ 8
    over 60-bit fingerprints, generated via Manku banding (equi-join on
    fingerprint bit-bands — pigeonhole-complete, so the banded plan must
    equal this oracle's exhaustive O(n²) pair scan)."""
    from pdf_brain_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 200)
    return simhash_near_dup_pairs(docs, max_hamming=8).orderBy("doc_a", "doc_b")


