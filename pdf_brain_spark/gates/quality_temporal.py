"""Gate definitions, rounds 4-7: data-quality gates (SURVEY §2.2 P10),
model selection (§2.4 A5), multimodal plumbing, temporal joins +
analytic windows, LLM enrichment (§2.9 M8) + LLM-output hygiene, and
the training-data hygiene extensions (PII scrubbing, repetition
filtering, contamination detection).

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
from pdf_brain_spark.functions.sql import Fragment
from pdf_brain_spark.functions.text import md5_long
from pdf_brain_spark.registry import query
from pdf_brain_spark.sources.loaders import load_table  # noqa: F401
from pdf_brain_spark.gates.replay import replayed_stream
from pdf_brain_spark.gates.core import _CHUNK_ORACLE_CTE, _DUCK_CENTROIDS, _DUCK_COS, _DUCK_EUCLID, _DUCK_MINHASH_BANDED, _DUCK_MINHASH_SIG, _DUCK_NORM, _DUCK_SHINGLES, _duck_cosine_distance  # noqa: F401

# --------------------------------------------------------------------------
# Data-quality gate (SURVEY §2.2 P10) + model selection (§2.4 A5) +
# multimodal plumbing (training-data extensions)
# --------------------------------------------------------------------------


@query(
    "embedding_validation",
    oracle="""
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN len(embedding) = 64
                     AND length(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
    FROM embeddings
    """,
)
def embedding_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding validation gate (reference P10, Ollama.ts:70-106): correct
    dimension + all components finite, as corpus-level counts."""
    from pdf_brain_spark.functions.vector import is_valid_embedding

    emb = load_table(spark, "embeddings", sf_dir)
    return emb.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(is_valid_embedding("embedding", 64), 1).otherwise(0)).alias("n_valid"),
    )


def _duck_kmeans_rss(k: int) -> str:
    """Per-k CTE chain: one exact-integer Lloyd's round from the pinned
    seeds (ids 0..k-1) plus the RSS under the updated centroids — the
    kmeans_fit_2iter oracle generalized and parameterized by k."""
    p = f"k{k}_"
    return f"""
    {p}c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, d, v AS c
              FROM x WHERE vec_id < {k}),
    {p}a1 AS (
      SELECT x.vec_id, c.cid, sum((x.v - c.c) * (x.v - c.c)) AS d2
      FROM x JOIN {p}c0 c USING (d) GROUP BY 1, 2
    ),
    {p}m1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM {p}a1) WHERE rn = 1
    ),
    {p}u1 AS (
      SELECT m.cid, x.d, CAST(sum(x.v) // count(*) AS BIGINT) AS c
      FROM {p}m1 m JOIN x USING (vec_id) GROUP BY 1, 2
    ),
    {p}c1 AS (
      SELECT c0.cid, c0.d, COALESCE(u.c, c0.c) AS c
      FROM {p}c0 c0 LEFT JOIN {p}u1 u ON u.cid = c0.cid AND u.d = c0.d
    ),
    {p}a2 AS (
      SELECT x.vec_id, c.cid, sum((x.v - c.c) * (x.v - c.c)) AS d2
      FROM x JOIN {p}c1 c USING (d) GROUP BY 1, 2
    ),
    {p}r AS (
      SELECT CAST({k} AS INTEGER) AS k, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(md) AS BIGINT) AS rss
      FROM (SELECT vec_id, min(d2) AS md FROM {p}a2 GROUP BY 1)
    )"""


@query(
    "bic_model_selection",
    oracle=f"""
    WITH x AS (
      SELECT e.vec_id, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
    ),
    {','.join(_duck_kmeans_rss(k) for k in (2, 4, 8))},
    allk AS (
      SELECT * FROM k2_r UNION ALL SELECT * FROM k4_r
      UNION ALL SELECT * FROM k8_r
    ),
    scored AS (
      SELECT k, n AS n_vectors, rss AS rss_milli2,
             CAST(k * 65 AS BIGINT) AS p_params,
             round((CAST(n AS DOUBLE)
                    * ln(CAST(rss AS DOUBLE) / CAST(n AS DOUBLE)))
                   + (CAST(k * 65 AS DOUBLE) * ln(CAST(n AS DOUBLE))),
                   6) AS bic
      FROM allk
    )
    SELECT k, n_vectors, rss_milli2, p_params, bic,
           bic = min(bic) OVER () AS is_best
    FROM scored ORDER BY k
    """,
)
def bic_model_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIC-based k selection (reference A5, Clustering.ts:336-359,657-676):
    BIC = n·ln(RSS/n) + k·(dim+1)·ln(n) per candidate k in (2, 4, 8),
    argmin flagged. Previously rows-only (distributed KMeans per k); now
    ORACLED (VERDICT r9 item 3): each candidate fit is ONE exact-integer
    Lloyd's round from pinned seeds (kmeans_fit_exact_int — the oracled
    FIT), RSS is the integer sum of per-vector min squared distances to
    the updated centroids, and BIC is one 6dp-rounded ln over those
    exact integers — so the whole model-selection table, including which
    k wins, is hash-compared against a DuckDB replay. Unit note: RSS is
    in milli-units²; the constant −2n·ln(1000) shift it induces in every
    candidate's BIC is k-independent and cannot change the argmin.
    Plan per k: the oracled fit's
    one Arrow pass + (cid,dim) aggregate, then one map-side integer
    aggregate for RSS; only k x dim model tables are collected."""
    from pdf_brain_spark.operators.clustering import (
        fit_centroid_matrix,
        quantize_milli,
        quantized_d2,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    q = quantize_milli(emb).localCheckpoint(
        eager=True
    )  # one RSS pass per candidate k

    parts = []
    for k in (2, 4, 8):
        cmat = fit_centroid_matrix(spark, emb, k=k, dim=64, n_iter=1)
        parts.append(
            q.select(
                F.least(*[quantized_d2("q", cmat[c]) for c in range(k)]).alias("_md")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.sum("_md").cast("long").alias("rss_milli2"),
            )
            .select(
                F.lit(k).alias("k"),
                "n_vectors",
                "rss_milli2",
                F.lit(k * 65).cast("long").alias("p_params"),
            )
        )
    allk = parts[0].unionByName(parts[1]).unionByName(parts[2])
    scored = allk.withColumn(
        "bic",
        F.round(
            F.col("n_vectors").cast("double")
            * F.log(
                F.col("rss_milli2").cast("double")
                / F.col("n_vectors").cast("double")
            )
            + F.col("p_params").cast("double")
            * F.log(F.col("n_vectors").cast("double")),
            6,
        ),
    ).localCheckpoint(eager=True)  # 3 rows, consumed by min AND output
    mn = scored.agg(F.min("bic").alias("_mb"))
    return (
        scored.crossJoin(F.broadcast(mn))
        .select(
            "k", "n_vectors", "rss_milli2", "p_params", "bic",
            (F.col("bic") == F.col("_mb")).alias("is_best"),
        )
        .orderBy("k")
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_assets,
           CAST(count(*) AS BIGINT) AS n_ok_dim,
           round(avg(16 + ascii(substr(text, 1, 1))), 4) AS avg_width
    FROM documents WHERE doc_id < 50
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-feature extraction plumbing (multimodal extension): opaque
    binary column + mapInPandas Arrow-batched feature UDF (decode stubbed
    deterministically — image libs absent), validity stats out. The
    oracle re-derives the deterministic metadata contract (asset counts,
    feature-dim validity, width = 16 + first payload byte) directly from
    the source rows — a broken batch shape, dropped row, or dim mismatch
    in the UDF plumbing flips the hash; the Gaussian feature values
    themselves are Python-side by design."""
    from pdf_brain_spark.operators.multimodal import IMAGE_FEATURE_DIM, extract_image_features

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    media = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    feats = extract_image_features(media)
    return feats.agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.when(F.size("features") == IMAGE_FEATURE_DIM, 1).otherwise(0)).alias("n_ok_dim"),
        F.round(F.avg("width"), 4).alias("avg_width"),
    )


@query(
    "multimodal_frame_plan",
    oracle="""
    WITH vids AS (
      SELECT CAST(doc_id AS VARCHAR) AS asset_id, n_chars * 10 AS duration_ms
      FROM documents WHERE doc_id < 20
    )
    SELECT asset_id, unnest(generate_series(0, greatest(duration_ms - 1, 0), 1000)) AS frame_ts_ms
    FROM vids
    ORDER BY asset_id, frame_ts_ms
    """,
)
def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (multimodal extension): explode each
    video's timeline into per-frame rows BEFORE decode, so decode
    parallelism is per-frame. Duration synthesized from n_chars."""
    from pdf_brain_spark.operators.multimodal import frame_sample_plan

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 20)
    media = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("video").alias("kind"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit(0).alias("sample_rate"),
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_ms=1000).orderBy("asset_id", "frame_ts_ms")


@query(
    "streaming_tumbling_window",
    oracle="""
    WITH m AS (SELECT max(ts) AS max_ts FROM events)
    SELECT event_type,
           time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events, m
    GROUP BY event_type, time_bucket(INTERVAL 1 HOUR, ts), max_ts
    HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
           <= max_ts - INTERVAL 2 HOUR
    """,
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run (§2.10 extension): readStream over the
    events parquet → watermark(2h) → tumbling 1-hour window agg →
    Trigger.AvailableNow → memory sink; returns the drained sink table.
    Append mode emits exactly the windows the final watermark has closed
    (window_end ≤ max_ts − 2h); windows still open at termination remain
    in state. That closure rule is encoded in the oracle's HAVING — the
    streaming semantics are deterministic on a bounded source."""
    import os as _os
    import tempfile
    import uuid

    from pdf_brain_spark.streaming.events import windowed_event_counts

    path = _os.path.join(sf_dir, "events.parquet")
    # externally built sessions (the driver's) lack the NANOS conf
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_types = dict(spark.read.parquet(path).dtypes)
    # the file stream source wants a directory: stream the sf dir with a
    # glob filter instead of the bare file path
    if batch_types.get("ts") == "bigint":
        schema = (
            "event_id bigint, ts bigint, user_id bigint, "
            "event_type string, value double, props string"
        )
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        ev = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    qname = "stream_win_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="sgraft_ckpt_")
    try:
        q = (
            windowed_event_counts(ev)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        q.awaitTermination()
    finally:
        # the memory sink holds the drained rows on the driver; the
        # checkpoint is dead weight once the AvailableNow run terminates
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        "event_type", "window_start", "n_events", F.round("total_value", 4).alias("total_value")
    )


@query(
    "ingest_incremental",
    oracle="""
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM documents e WHERE e.doc_id % 2 = 0 AND e.doc_id = d.doc_id
    )
    ORDER BY d.doc_id
    LIMIT 100
    """,
)
def ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup anti-join (reference J7, cli.ts:1496-1512):
    incoming files minus already-ingested paths via left_anti — even
    doc_ids stand in for the existing library."""
    docs = load_table(spark, "documents", sf_dir)
    existing = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    return (
        docs.join(existing, "doc_id", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
        .limit(100)
    )


@query(
    "extractive_summary",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id, regexp_extract(text, '^[^.!?]*[.!?]') AS sent,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT lang, string_agg(sent, ' ' ORDER BY doc_id) AS summary,
           count(*) AS n_members
    FROM ranked WHERE rn <= 3
    GROUP BY lang
    ORDER BY lang
    """,
)
def extractive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractive cluster summary (reference A10,
    ClusterSummarizer.ts:75-109): first sentence of the first ≤3 members
    per group, concatenated — window rank + ordered collect. Language
    groups stand in for clusters."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("lang").orderBy("doc_id")
    ranked = (
        docs.select(
            "lang",
            "doc_id",
            F.regexp_extract("text", r"^[^.!?]*[.!?]", 0).alias("sent"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "sent"))),
                    lambda s: s["sent"],
                ),
                " ",
            ).alias("summary"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("lang")
    )


@query(
    "string_normalize",
    oracle="""
    WITH files AS (
      SELECT doc_id, source,
             'docs/' || source || '/Annual_Report%20' || doc_id ||
             '_(2021)_by_' || upper(lang) || '.pdf' AS filename
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(
             lower('Doc #' || doc_id || ' @ ' || upper(source)),
             '[^a-z0-9]+', '-', 'g'), '^-+|-+$', '', 'g') AS tag,
           substr(sha256('doc-' || doc_id), 1, 12) AS id12,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(filename, '\\.(pdf|md|markdown|txt)$', '', 'g'),
                   '%20', ' ', 'g'),
                 '[_\\-\\.]+', ' ', 'g'),
               '\\((19|20)\\d{2}\\)', '', 'g'),
             '\\s+', ' ', 'g')) AS title,
           coalesce(
             nullif(regexp_extract(filename, '[bB]y[_ ]+([A-Za-z]+)', 1), ''),
             nullif(regexp_extract(filename, '\\(([A-Za-z]+)\\)', 1), ''),
             nullif(regexp_extract(filename, '- ([A-Za-z]+)$', 1), '')
           ) AS author
    FROM files
    ORDER BY doc_id
    """,
)
def string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string suite (§2.8): the reference's tag normalization
    (AutoTagger.ts:383-389), sha256-prefix document ids
    (src/index.ts:111-114), and the filename→title/author heuristics
    (AutoTagger.ts:394-437) as pure codegen'd expressions — byte-exact
    parity with the oracle. `title_author_cleanup` stays registered as
    the standalone API for the enrichment fallback tier."""
    from pdf_brain_spark.functions.text import (
        clean_title,
        extract_author,
        normalize_tag,
        sha12_id,
    )

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    raw_tag = F.concat(
        F.lit("Doc #"), F.col("doc_id").cast("string"), F.lit(" @ "), F.upper("source")
    )
    fname = F.concat(
        F.lit("docs/"), F.col("source"), F.lit("/Annual_Report%20"),
        F.col("doc_id").cast("string"), F.lit("_(2021)_by_"),
        F.upper("lang"), F.lit(".pdf"),
    )
    return docs.select(
        "doc_id",
        normalize_tag(raw_tag).alias("tag"),
        sha12_id(F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))).alias("id12"),
        clean_title(fname).alias("title"),
        extract_author(fname).alias("author"),
    ).orderBy("doc_id")


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract(props, '$.k') AS INTEGER)), 6) AS avg_k,
           CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) > 50
               THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON escape-hatch handling (§2.8 JSON group: the reference stores
    tags/metadata as JSON-in-TEXT and queries via json_each): parse the
    props column with from_json into a native struct at the boundary, then
    aggregate natively — never string-ops over JSON in the hot path."""
    ev = load_table(spark, "events", sf_dir)
    parsed = ev.withColumn("p", F.from_json("props", "k int"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.round(F.avg(F.col("p.k")), 6).alias("avg_k"),
            F.sum(F.when(F.col("p.k") > 50, 1).otherwise(0)).alias("n_high"),
        )
        .orderBy("event_type")
    )


@query(
    "title_author_cleanup",
    oracle="""
    WITH files AS (
      SELECT doc_id,
             'docs/' || source || '/Annual_Report%20' || doc_id ||
             '_(2021)_by_' || upper(lang) || '.pdf' AS filename
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(filename, '\\.(pdf|md|markdown|txt)$', '', 'g'),
                   '%20', ' ', 'g'),
                 '[_\\-\\.]+', ' ', 'g'),
               '\\((19|20)\\d{2}\\)', '', 'g'),
             '\\s+', ' ', 'g')) AS title,
           coalesce(
             nullif(regexp_extract(filename, '[bB]y[_ ]+([A-Za-z]+)', 1), ''),
             nullif(regexp_extract(filename, '\\(([A-Za-z]+)\\)', 1), ''),
             nullif(regexp_extract(filename, '- ([A-Za-z]+)$', 1), '')
           ) AS author
    FROM files
    ORDER BY doc_id
    """,
)
def title_author_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename→title/author heuristics (reference M8 fallback tier,
    AutoTagger.ts:394-437): regexp chains with byte-exact oracle parity —
    the deterministic part of the enrichment pipeline."""
    from pdf_brain_spark.functions.text import clean_title, extract_author

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    fname = F.concat(
        F.lit("docs/"), F.col("source"), F.lit("/Annual_Report%20"),
        F.col("doc_id").cast("string"), F.lit("_(2021)_by_"),
        F.upper("lang"), F.lit(".pdf"),
    )
    return docs.select(
        "doc_id",
        clean_title(fname).alias("title"),
        extract_author(fname).alias("author"),
    ).orderBy("doc_id")


@query(
    "concept_dedup_judge",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DUCK_COS.format(a='a.embedding', b='b.embedding')} /
             ({_DUCK_NORM.format(a='a.embedding')} * {_DUCK_NORM.format(a='b.embedding')}) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(sim, 6) AS sim,
           CASE WHEN sim >= 0.6 THEN 'DUPLICATE' ELSE 'DISTINCT' END AS verdict
    FROM pairs WHERE sim >= 0.45
    ORDER BY id_a, id_b
    """,
)
def concept_dedup_judge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-concept adjudication pipeline shape (reference M10,
    AutoTagger.ts:597-669): candidate pairs from embedding similarity ≥
    0.45, then a judge verdict per candidate. The judge tier here is the
    deterministic threshold rule — in production an LLM-UDF slots into the
    same column contract (candidates in, verdict out)."""
    from pdf_brain_spark.operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    cands = embedding_near_dup_pairs(emb, threshold=0.45)
    return (
        cands.withColumn(
            "verdict",
            F.when(F.col("cos_sim") >= 0.6, "DUPLICATE").otherwise("DISTINCT"),
        )
        .select("id_a", "id_b", F.col("cos_sim").alias("sim"), "verdict")
        .orderBy("id_a", "id_b")
    )


@query(
    "events_sliding_window",
    oracle="""
    WITH assigned AS (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS window_start
      FROM events
    )
    SELECT event_type, window_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM assigned
    GROUP BY event_type, window_start
    ORDER BY window_start, event_type
    LIMIT 500
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide (§2.10 extension — beyond
    the reference, a core Spark streaming/batch windowing primitive): each
    event lands in 2 overlapping windows; Spark's window() does the
    assignment explode internally."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("event_type", F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select("event_type", F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start", "event_type")
        .limit(500)
    )


@query(
    "events_funnel",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS r0
      FROM events
    ),
    s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                      AND coalesce(max(r0) OVER w, 0) = 1 THEN 1 ELSE 0 END AS r1
      FROM flagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                      AND coalesce(max(r1) OVER w, 0) = 1 THEN 1 ELSE 0 END AS r2
      FROM s1
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    per_user AS (
      SELECT user_id, max(r0) AS r0, max(r1) AS r1, max(r2) AS r2
      FROM s2 GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(sum(r0) AS BIGINT) AS n0, CAST(sum(r1) AS BIGINT) AS n1,
             CAST(sum(r2) AS BIGINT) AS n2
      FROM per_user
    )
    SELECT 1 AS step, 'view' AS step_name, n0 AS n_users,
           round(CAST(n0 AS DOUBLE) / greatest(n0, 1), 6) AS conversion FROM tot
    UNION ALL
    SELECT 2, 'click', n1, round(CAST(n1 AS DOUBLE) / greatest(n0, 1), 6) FROM tot
    UNION ALL
    SELECT 3, 'purchase', n2, round(CAST(n2 AS DOUBLE) / greatest(n0, 1), 6) FROM tot
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase
    (operators/analytics.py::funnel_conversion): a user counts for step k
    only if a step-k event occurs at a strictly later (ts, event_id) row
    than a row that already reached step k−1 — greedy first-occurrence
    matching in ONE window shuffle (stacked running-max windows over one
    per-user sort; no self-joins, no per-user history collection). The
    oracle re-runs the identical window stack in SQL."""
    from pdf_brain_spark.operators.analytics import funnel_conversion

    return funnel_conversion(
        load_table(spark, "events", sf_dir), ["view", "click", "purchase"]
    )


@query(
    "events_funnel_windowed",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id, epoch_us(ts) AS us,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS r0
      FROM events
    ),
    s1 AS (
      SELECT *, CASE WHEN event_type = 'click'
                      AND coalesce(max(CASE WHEN r0 = 1 THEN us END) OVER w, -1)
                          >= us - 3600000000 THEN 1 ELSE 0 END AS r1
      FROM flagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    s2 AS (
      SELECT *, CASE WHEN event_type = 'purchase'
                      AND coalesce(max(CASE WHEN r1 = 1 THEN us END) OVER w, -1)
                          >= us - 3600000000 THEN 1 ELSE 0 END AS r2
      FROM s1
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    per_user AS (
      SELECT user_id, max(r0) AS r0, max(r1) AS r1, max(r2) AS r2
      FROM s2 GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(sum(r0) AS BIGINT) AS n0, CAST(sum(r1) AS BIGINT) AS n1,
             CAST(sum(r2) AS BIGINT) AS n2
      FROM per_user
    )
    SELECT 1 AS step, 'view' AS step_name, n0 AS n_users,
           round(CAST(n0 AS DOUBLE) / greatest(n0, 1), 6) AS conversion FROM tot
    UNION ALL
    SELECT 2, 'click', n1, round(CAST(n1 AS DOUBLE) / greatest(n0, 1), 6) FROM tot
    UNION ALL
    SELECT 3, 'purchase', n2, round(CAST(n2 AS DOUBLE) / greatest(n0, 1), 6) FROM tot
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with 1-hour CONVERSION WINDOWS (operators/analytics.py::
    funnel_conversion_windowed): each step must follow a qualifying
    previous-step event within the window — chained bounded hops, the
    product-analytics refinement of events_funnel. Same one-shuffle
    window-stack shape; timestamps compared as exact microsecond
    integers on both engines."""
    from pdf_brain_spark.operators.analytics import funnel_conversion_windowed

    return funnel_conversion_windowed(
        load_table(spark, "events", sf_dir),
        ["view", "click", "purchase"],
        within_seconds=3600,
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    cohorts AS (
      SELECT user_id, min(week) AS cohort_week FROM active GROUP BY user_id
    ),
    joined AS (
      SELECT a.user_id, a.week, c.cohort_week,
             CAST(floor(date_diff('day', CAST(c.cohort_week AS DATE), CAST(a.week AS DATE)) / 7) AS INT) AS week_offset
      FROM active a JOIN cohorts c USING (user_id)
    ),
    counts AS (
      SELECT cohort_week, week_offset, count(*) AS n_users
      FROM joined WHERE week_offset <= 8 GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort_week, n_users AS cohort_size FROM counts WHERE week_offset = 0
    )
    SELECT c.cohort_week, c.week_offset, c.n_users,
           round(CAST(c.n_users AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM counts c JOIN sizes s USING (cohort_week)
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix
    (operators/analytics.py::retention_cohorts): users bucketed by first
    active week, counted in each later week they return. One fact-table
    scan (map-side-distinct user-weeks); everything downstream at user
    grain. Fully SQL-oracled."""
    from pdf_brain_spark.operators.analytics import retention_cohorts

    return retention_cohorts(load_table(spark, "events", sf_dir))


@query(
    "events_count_anomalies",
    oracle="""
    WITH counts AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             count(*) AS n FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS k,
             CAST(sum(n) AS DOUBLE) AS s1,
             CAST(sum(n * n) AS DOUBLE) AS s2
      FROM counts GROUP BY event_type
    ),
    scored AS (
      SELECT c.event_type, c.bucket, c.n,
             round((c.n - s.s1 / s.k) /
                   sqrt(greatest(s.s2 / s.k - (s.s1 / s.k) * (s.s1 / s.k), 1e-12)), 6) AS zscore
      FROM counts c JOIN stats s USING (event_type)
    ),
    ranked AS (
      SELECT event_type, bucket, n AS n_events, zscore,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(zscore) DESC, bucket ASC) AS rnk
      FROM scored
    )
    SELECT event_type, bucket, n_events, zscore, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def events_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series volume-anomaly detection: the top-3 hourly buckets per
    event_type by |z-score| of the bucket's event count against the
    series' own mean/stddev. One fact-table aggregate (the hourly
    counts); the stats, scoring, and rank window all run at bucket
    grain. Every input to the z-score is an INTEGER sum (Σn, Σn²), so
    the mean/variance/score are bit-identical across engines regardless
    of summation order — the determinism lesson the gap-fill query's
    rounding-boundary flake taught, applied by construction."""
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").cast("double").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("s2"),
    )
    mu = F.col("s1") / F.col("k")
    var = F.greatest(F.col("s2") / F.col("k") - mu * mu, F.lit(1e-12))
    scored = counts.join(stats, "event_type").select(
        "event_type",
        "bucket",
        F.col("n").alias("n_events"),
        F.round((F.col("n") - mu) / F.sqrt(var), 6).alias("zscore"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("zscore")).desc(), F.col("bucket").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "events_gapfill_locf",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             count(*) AS n,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 100.0), 6) AS avg_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(time_bucket(INTERVAL 1 HOUR, ts)) AS lo,
             max(time_bucket(INTERVAL 1 HOUR, ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT t.event_type, s.bucket
      FROM (SELECT DISTINCT event_type FROM events) t,
           bounds,
           LATERAL (SELECT unnest(generate_series(bounds.lo, bounds.hi, INTERVAL 1 HOUR)) AS bucket) s
    ),
    joined AS (
      SELECT sp.event_type, sp.bucket, h.n, h.avg_value,
             CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS is_gap
      FROM spine sp LEFT JOIN hourly h USING (event_type, bucket)
    )
    SELECT event_type, bucket,
           coalesce(n, 0) AS n_events,
           last_value(avg_value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_avg_value,
           is_gap
    FROM joined
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per event_type with gaps filled by
    last-observation-carried-forward (the time_bucket_gapfill + locf
    analog, operators/temporal.py::gapfill_locf): the fact table is
    scanned once by the hourly aggregate; the spine, join, and LOCF
    window all run at bucket grain. Fully SQL-oracled (DuckDB
    generate_series spine + IGNORE NULLS window twin)."""
    from pdf_brain_spark.operators.temporal import gapfill_locf

    return gapfill_locf(load_table(spark, "events", sf_dir))


@query(
    "events_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS cnt FROM events GROUP BY 1
    ),
    summary AS (
      SELECT CAST(sum(cnt) AS DOUBLE) AS total_rows,
             CAST(count(*) AS DOUBLE) AS distinct_keys,
             CAST(max(cnt) AS DOUBLE) AS max_cnt,
             quantile_cont(cnt, 0.5) AS p50,
             quantile_cont(cnt, 0.9) AS p90,
             quantile_cont(cnt, 0.99) AS p99
      FROM counts
    )
    SELECT 'total_rows' AS kind, CAST(NULL AS VARCHAR) AS key, total_rows AS value FROM summary
    UNION ALL SELECT 'distinct_keys', NULL, distinct_keys FROM summary
    UNION ALL SELECT 'max_share_ppm', NULL, round(max_cnt * 1e6 / total_rows, 2) FROM summary
    UNION ALL SELECT 'p50', NULL, p50 FROM summary
    UNION ALL SELECT 'p90', NULL, p90 FROM summary
    UNION ALL SELECT 'p99', NULL, p99 FROM summary
    UNION ALL SELECT 'max', NULL, max_cnt FROM summary
    UNION ALL (SELECT 'hot_key', k, CAST(cnt AS DOUBLE) FROM counts
               ORDER BY cnt DESC, k ASC LIMIT 10)
    """,
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostic on events.user_id — the measurement
    that decides between the plain and salted operator variants
    (operators/skew.py, operators/temporal.py): per-key count shuffle,
    then exact percentiles + hottest-key share (ppm) over the REDUCED
    count table, plus the top-10 hot keys. Fully SQL-expressible, so the
    whole report is hash-gated."""
    from pdf_brain_spark.operators.skew import skew_profile

    return skew_profile(load_table(spark, "events", sf_dir), "user_id", top_n=10)


_DUCK_PQ_REPORT = """
    x AS (
      SELECT e.vec_id, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
    ),
    cw AS (
      SELECT CAST((d - 1) // 8 AS INTEGER) AS s, CAST(vec_id AS INTEGER) AS code,
             d, v
      FROM x WHERE vec_id < 16
    ),
    sub AS (
      SELECT x.vec_id, cw.s, cw.code, sum((x.v - cw.v) * (x.v - cw.v)) AS d2
      FROM x JOIN cw ON cw.d = x.d GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, s, code, d2 AS md FROM (
        SELECT vec_id, s, code, d2, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY d2 ASC, code ASC) AS rn
        FROM sub
      ) WHERE rn = 1
    ),
    recon AS (
      SELECT CAST(sum(md) AS BIGINT) AS sse,
             CAST(count(*) // 8 AS BIGINT) AS n_vec
      FROM codes
    ),
    qx AS (SELECT vec_id AS query_id, d, v FROM x WHERE vec_id < 16),
    lut AS (
      SELECT q.query_id, cw.s, cw.code, sum((q.v - cw.v) * (q.v - cw.v)) AS ld
      FROM qx q JOIN cw ON cw.d = q.d GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT l.query_id, c.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc
      FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      GROUP BY 1, 2
    ),
    adcr AS (
      SELECT query_id, vec_id, row_number() OVER (
        PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rn
      FROM adc
    ),
    flat10 AS (SELECT query_id, vec_id FROM adcr WHERE rn <= 10),
    short40 AS (SELECT query_id, vec_id FROM adcr WHERE rn <= 40),
    ex AS (
      SELECT q.query_id, x.vec_id, sum((x.v - q.v) * (x.v - q.v)) AS d2
      FROM x JOIN qx q USING (d) GROUP BY 1, 2
    ),
    exact10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, row_number() OVER (
          PARTITION BY query_id ORDER BY d2 ASC, vec_id ASC) AS rn
        FROM ex
      ) WHERE rn <= 10
    ),
    rerank10 AS (
      SELECT query_id, vec_id FROM (
        SELECT e.query_id, e.vec_id, row_number() OVER (
          PARTITION BY e.query_id ORDER BY e.d2 ASC, e.vec_id ASC) AS rn
        FROM ex e JOIN short40 s
          ON s.query_id = e.query_id AND s.vec_id = e.vec_id
      ) WHERE rn <= 10
    )
"""


@query(
    "pq_compression_report",
    oracle=f"""
    WITH {_DUCK_PQ_REPORT.strip()}
    SELECT CAST(64 AS INTEGER) AS dim, CAST(8 AS INTEGER) AS m,
           CAST(16 AS INTEGER) AS n_codes, 32.0 AS compression_x,
           CAST(160 AS BIGINT) AS n_exact_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM flat10 f
            JOIN exact10 e ON e.query_id = f.query_id AND e.vec_id = f.vec_id)
             AS adc_hits,
           (SELECT CAST(count(*) * 1000000 // 160 AS BIGINT) FROM flat10 f
            JOIN exact10 e ON e.query_id = f.query_id AND e.vec_id = f.vec_id)
             AS recall_adc_ppm,
           (SELECT CAST(count(*) AS BIGINT) FROM rerank10 r
            JOIN exact10 e ON e.query_id = r.query_id AND e.vec_id = r.vec_id)
             AS rerank_hits,
           (SELECT CAST(count(*) * 1000000 // 160 AS BIGINT) FROM rerank10 r
            JOIN exact10 e ON e.query_id = r.query_id AND e.vec_id = r.vec_id)
             AS recall_rerank_ppm,
           (SELECT sse FROM recon) AS recon_sse_milli2,
           (SELECT round(CAST(sse AS DOUBLE) / (n_vec * 1.0), 6) + 0.0
            FROM recon) AS recon_mse_milli2
    """,
)
def pq_compression_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization trade report, ORACLED (the _DUCK_IVFPQ play
    at a second operating point — m=8 subspaces x 16 codewords vs the
    IVFPQ gate's 4x8, so the two gates pin different ends of the
    code-resolution curve): recall@10 of flat ADC-from-codes serving and
    of the ADC-shortlist(40)-then-exact-rerank path against exact truth
    for 16 corpus queries, the 32x storage ratio (64 float32 dims -> 8
    one-byte codes), and — new to the deterministic replica —
    CORPUS-WIDE reconstruction SSE/MSE, which falls out exactly because
    each vector's reconstruction error IS the sum of its per-subspace
    argmin distances (Σ_s min_c d2) — an integer the twin replays with
    no sampling. Codebooks are deterministic (subvectors of vec_ids
    0..15, milli-quantized); every distance, code, ranking and hit count
    is exact-integer with deterministic ties; the only floats are the
    two final divisions, 6dp-rounded identically. The production float
    pipeline (seeded-Lloyd's pq_train / pq_encode / ADC / rerank, cosine
    serving metric) keeps its invariants in tests/test_quantization.py.
    Plan: codes+recon are ONE map-side argmin pass (the codeword grid
    broadcasts); ADC joins the bounded LUT (16 queries x 8 x 16) to the
    code table — scan bytes per query are m one-byte codes, the whole
    point of PQ at 100 TB."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("q"),
    ).localCheckpoint(eager=True)  # scanned by codes/adc/exact arms

    cw_rows = {int(r["vec_id"]): [int(v) for v in r["q"]]
               for r in q.filter(F.col("vec_id") < 16).collect()}
    if set(cw_rows) != set(range(16)):
        raise ValueError(
            "pq_compression_report needs dense vec_ids 0..15 as codewords"
        )
    # cw[s][c] = codeword c of subspace s (8 dims each)
    cw = [[cw_rows[c][s * 8:(s + 1) * 8] for c in range(16)] for s in range(8)]
    q_rows = cw_rows  # queries are the same pinned ids 0..15

    from pdf_brain_spark.operators.clustering import quantized_d2 as _d2

    # one map-side pass: per subspace the argmin (d2, code) struct — the
    # code for ADC, the min d2 for reconstruction error
    best_exprs = [
        F.array_min(
            F.array(*[
                F.struct(
                    _d2(F.slice("q", s * 8 + 1, 8), cw[s][c]).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c in range(16)
            ])
        ).alias(f"_b{s}")
        for s in range(8)
    ]
    coded = q.select(
        "vec_id",
        F.posexplode(F.array(*best_exprs)).alias("s", "b"),
    ).select(
        "vec_id", "s", F.col("b.c").alias("code"), F.col("b.d").alias("md")
    ).localCheckpoint(eager=True)  # consumed by recon AND adc
    recon = coded.agg(
        F.sum("md").cast("long").alias("sse"),
        (F.count(F.lit(1)) / 8).cast("long").alias("n_vec"),
    )
    lut_rows = [
        (qid, s, c, sum((qv[s * 8 + j] - cw[s][c][j]) ** 2 for j in range(8)))
        for qid, qv in q_rows.items() for s in range(8) for c in range(16)
    ]
    lut = F.broadcast(spark.createDataFrame(
        lut_rows, "query_id long, s int, code int, ld long"
    ))
    adc = (
        coded.join(lut, ["s", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ld").alias("adc"))
    )
    from pyspark.sql import Window

    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    adcr = adc.withColumn("_rn", F.row_number().over(w_adc)).localCheckpoint(
        eager=True
    )  # consumed by flat10 AND short40
    flat10 = adcr.filter(F.col("_rn") <= 10).select("query_id", "vec_id")
    short40 = adcr.filter(F.col("_rn") <= 40).select("query_id", "vec_id")
    qdf = F.broadcast(spark.createDataFrame(
        [(qid, qv) for qid, qv in q_rows.items()],
        "query_id long, qv array<long>",
    ))
    ex = q.crossJoin(qdf).select(
        "query_id",
        "vec_id",
        F.aggregate(
            F.zip_with("q", "qv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("_d2"),
    ).localCheckpoint(eager=True)  # consumed by exact10 AND rerank10
    w_ex = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("vec_id").asc()
    )
    exact10 = (
        ex.withColumn("_rn", F.row_number().over(w_ex))
        .filter(F.col("_rn") <= 10).select("query_id", "vec_id")
    )
    rerank10 = (
        ex.join(short40, ["query_id", "vec_id"])
        .withColumn("_rn", F.row_number().over(w_ex))
        .filter(F.col("_rn") <= 10).select("query_id", "vec_id")
    )
    adc_hits = flat10.join(exact10, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    rr_hits = rerank10.join(exact10, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    return (
        adc_hits.select(F.col("h").alias("adc_hits"))
        .crossJoin(rr_hits.select(F.col("h").alias("rerank_hits")))
        .crossJoin(recon)
        .select(
            F.lit(64).alias("dim"),
            F.lit(8).alias("m"),
            F.lit(16).alias("n_codes"),
            F.lit(32.0).alias("compression_x"),
            F.lit(160).cast("long").alias("n_exact_pairs"),
            "adc_hits",
            F.expr("(adc_hits * 1000000) div 160").alias("recall_adc_ppm"),
            "rerank_hits",
            F.expr("(rerank_hits * 1000000) div 160").alias("recall_rerank_ppm"),
            F.col("sse").alias("recon_sse_milli2"),
            F.round(
                F.col("sse").cast("double") / (F.col("n_vec") * 1.0), 6
            ).alias("recon_mse_milli2"),
        )
    )


_DUCK_IVFPQ = """
    x AS (
      SELECT e.vec_id, e.label, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
    ),
    cw AS (
      SELECT CAST((d - 1) // 16 AS INTEGER) AS s, CAST(vec_id AS INTEGER) AS code, d, v
      FROM x WHERE vec_id < 8
    ),
    cent AS (
      SELECT label, d, CAST(sum(v) // count(*) AS BIGINT) AS c
      FROM x GROUP BY 1, 2
    ),
    assign AS (
      SELECT vec_id, label AS lst FROM (
        SELECT vec_id, label, row_number() OVER (
          PARTITION BY vec_id ORDER BY d2 ASC, label ASC) AS rn
        FROM (
          SELECT x.vec_id, cent.label, sum((x.v - cent.c) * (x.v - cent.c)) AS d2
          FROM x JOIN cent USING (d) GROUP BY 1, 2
        )
      ) WHERE rn = 1
    ),
    qx AS (SELECT vec_id AS query_id, d, v FROM x WHERE vec_id < 16),
    probe AS (
      SELECT query_id, label AS lst FROM (
        SELECT query_id, label, row_number() OVER (
          PARTITION BY query_id ORDER BY d2 ASC, label ASC) AS prank
        FROM (
          SELECT q.query_id, cent.label, sum((q.v - cent.c) * (q.v - cent.c)) AS d2
          FROM qx q JOIN cent USING (d) GROUP BY 1, 2
        )
      ) WHERE prank <= 4
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY d2 ASC, code ASC) AS rn
        FROM (
          SELECT x.vec_id, cw.s, cw.code, sum((x.v - cw.v) * (x.v - cw.v)) AS d2
          FROM x JOIN cw ON cw.d = x.d GROUP BY 1, 2, 3
        )
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.query_id, cw.s, cw.code, sum((q.v - cw.v) * (q.v - cw.v)) AS ld
      FROM qx q JOIN cw ON cw.d = q.d GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT l.query_id, c.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc
      FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      GROUP BY 1, 2
    ),
    flat10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, row_number() OVER (
          PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rn
        FROM adc
      ) WHERE rn <= 10
    ),
    ivfpq10 AS (
      SELECT query_id, vec_id FROM (
        SELECT a.query_id, a.vec_id, row_number() OVER (
          PARTITION BY a.query_id ORDER BY a.adc ASC, a.vec_id ASC) AS rn
        FROM adc a
        JOIN assign s ON s.vec_id = a.vec_id
        JOIN probe p ON p.query_id = a.query_id AND p.lst = s.lst
      ) WHERE rn <= 10
    ),
    exact10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, row_number() OVER (
          PARTITION BY query_id ORDER BY d2 ASC, vec_id ASC) AS rn
        FROM (
          SELECT q.query_id, x.vec_id, sum((x.v - q.v) * (x.v - q.v)) AS d2
          FROM x JOIN qx q USING (d) GROUP BY 1, 2
        )
      ) WHERE rn <= 10
    )
"""


@query(
    "ivfpq_recall_report",
    oracle=f"""
    WITH {_DUCK_IVFPQ.strip()}
    SELECT CAST(16 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
           CAST(4 AS INTEGER) AS n_probes,
           (SELECT CAST(count(*) AS BIGINT) FROM ivfpq10 i
            JOIN flat10 f ON f.query_id = i.query_id AND f.vec_id = i.vec_id)
             AS probe_hits,
           (SELECT CAST(count(*) * 1000000 // 160 AS BIGINT) FROM ivfpq10 i
            JOIN flat10 f ON f.query_id = i.query_id AND f.vec_id = i.vec_id)
             AS probe_recall_ppm,
           (SELECT CAST(count(*) AS BIGINT) FROM flat10 f
            JOIN exact10 e ON e.query_id = f.query_id AND e.vec_id = f.vec_id)
             AS adc_hits,
           (SELECT CAST(count(*) * 1000000 // 160 AS BIGINT) FROM flat10 f
            JOIN exact10 e ON e.query_id = f.query_id AND e.vec_id = f.vec_id)
             AS adc_recall_ppm
    """,
)
def ivfpq_recall_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ operating-point report, ORACLED (VERDICT r9 item 2) as an
    EXACT-INTEGER IVFADC replica of the FAISS-style composition — coarse
    probe pruning over PQ ADC-from-codes serving — so both recalls are
    hash-compared tables instead of rows-only claims:

      * vectors quantize ONCE to milli-units (the kmeans_fit play);
      * PQ codebooks are DETERMINISTIC: for each of the 4 subspaces
        (16 dims), the 8 codewords are the subvectors of vec_id 0..7;
        codes are integer argmin (lowest-code ties);
      * the coarse quantizer is the per-label truncating-mean centroid
        (integer `div`, DuckDB `//` twin), assignment and the 4-probe
        ranking both integer argmin with lowest-label ties;
      * ADC distance = Σ_s LUT[s][code] of integer squared subspace
        distances; flat-ADC / probed-ADC / exact top-10s are integer
        rankings with vec_id ties — EVERY comparison in the gate is
        between exact integers, so ties are deterministic and there is
        no float path at all.

    probe_recall (ivfpq vs flat ADC) isolates probe loss; adc_recall
    (flat ADC vs exact) isolates code resolution — the same two numbers
    the production report emits. The PRODUCTION float/BLAS pipeline
    keeps its own oracle (ivfpq_exact_rerank: full IVFADC + exact
    re-rank equals brute force) and its pytest invariants
    (tests/test_quantization.py); this gate makes the OPERATING-POINT
    numbers driver-checkable. Plan: bounded model grains (8x64 codebook,
    L x 64 centroids, 16 queries) broadcast/collected; the corpus is
    touched by map-side integer expressions + one (vec,s)-grain shuffle."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("q"),
    ).localCheckpoint(eager=True)  # scanned by codes/assign/adc/exact arms

    # bounded model grains -> driver: codewords (8x64), queries (16x64)
    cw_rows = {int(r["vec_id"]): [int(v) for v in r["q"]]
               for r in q.filter(F.col("vec_id") < 8).collect()}
    if len(cw_rows) < 8:
        raise ValueError("ivfpq_recall_report needs vec_ids 0..7 as codewords")
    cw = [[cw_rows[c][s * 16:(s + 1) * 16] for c in range(8)] for s in range(4)]
    q_rows = {int(r["vec_id"]): [int(v) for v in r["q"]]
              for r in q.filter(F.col("vec_id") < 16).collect()}
    # integer coarse centroids: per-label truncating mean (model grain)
    cent_rows = (
        q.select("label", F.posexplode("q").alias("d", "v"))
        .groupBy("label", "d")
        .agg(F.expr("sum(v) div count(1)").alias("c"))
        .collect()
    )
    cmat: dict[int, list[int]] = {}
    for r in cent_rows:
        cmat.setdefault(int(r["label"]), [0] * 64)[int(r["d"])] = int(r["c"])
    labels = sorted(cmat)

    from pdf_brain_spark.operators.clustering import quantized_d2 as _d2

    # assignment: integer argmin over labels, lowest-label ties
    assign_expr = F.array_min(
        F.array(*[
            F.struct(_d2(F.col("q"), cmat[l]).alias("d"), F.lit(l).alias("l"))
            for l in labels
        ])
    ).getField("l")
    # per-subspace codes: integer argmin over the 8 codewords
    code_exprs = [
        F.array_min(
            F.array(*[
                F.struct(
                    _d2(F.slice("q", s * 16 + 1, 16), cw[s][c]).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c in range(8)
            ])
        ).getField("c").alias(f"_c{s}")
        for s in range(4)
    ]
    coded = q.select(
        "vec_id",
        assign_expr.alias("lst"),
        F.posexplode(F.array(*code_exprs)).alias("s", "code"),
    )
    # driver-side integer LUT and probe sets (16 queries x bounded grids)
    lut_rows = [
        (qid, s, c, sum((qv[s * 16 + j] - cw[s][c][j]) ** 2 for j in range(16)))
        for qid, qv in q_rows.items() for s in range(4) for c in range(8)
    ]
    lut = F.broadcast(spark.createDataFrame(
        lut_rows, "query_id long, s int, code int, ld long"
    ))
    probe_rows = []
    for qid, qv in q_rows.items():
        ranked = sorted(
            (sum((qv[d] - cmat[l][d]) ** 2 for d in range(64)), l) for l in labels
        )
        probe_rows += [(qid, l) for _, l in ranked[:4]]
    probe = F.broadcast(spark.createDataFrame(probe_rows, "query_id long, lst int"))

    adc = (
        coded.join(lut, ["s", "code"])
        .groupBy("query_id", "vec_id", "lst")
        .agg(F.sum("ld").alias("adc"))
        .localCheckpoint(eager=True)  # consumed by flat AND probed rankings
    )
    from pyspark.sql import Window

    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    flat10 = (
        adc.withColumn("_rn", F.row_number().over(w_adc))
        .filter(F.col("_rn") <= 10).select("query_id", "vec_id")
    )
    ivfpq10 = (
        adc.join(probe, ["query_id", "lst"])
        .withColumn("_rn", F.row_number().over(w_adc))
        .filter(F.col("_rn") <= 10).select("query_id", "vec_id")
    )
    qdf = F.broadcast(spark.createDataFrame(
        [(qid, qv) for qid, qv in q_rows.items()],
        "query_id long, qv array<long>",
    ))
    w_ex = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("vec_id").asc()
    )
    exact10 = (
        q.crossJoin(qdf)
        .select(
            "query_id", "vec_id",
            F.aggregate(
                F.zip_with("q", "qv", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("_d2"),
        )
        .withColumn("_rn", F.row_number().over(w_ex))
        .filter(F.col("_rn") <= 10).select("query_id", "vec_id")
    )
    probe_hits = ivfpq10.join(flat10, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    adc_hits = flat10.join(exact10, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("h")
    )
    return (
        probe_hits.select(F.col("h").alias("probe_hits"))
        .crossJoin(adc_hits.select(F.col("h").alias("adc_hits")))
        .select(
            F.lit(16).cast("long").alias("n_queries"),
            F.lit(10).cast("long").alias("k"),
            F.lit(4).alias("n_probes"),
            "probe_hits",
            F.expr("(probe_hits * 1000000) div 160").alias("probe_recall_ppm"),
            "adc_hits",
            F.expr("(adc_hits * 1000000) div 160").alias("adc_recall_ppm"),
        )
    )


@query(
    "ivfpq_exact_rerank",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS query_id, embedding AS query_vec
      FROM embeddings WHERE vec_id < 16
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
    FROM ranked WHERE rank <= 10
    """,
)
def ivfpq_exact_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ + exact re-rank behind a FULL exactness gate
    (operators/quantization.py::ivfpq_topk_exact_rerank_residual): 16
    queries served by the complete IVFADC pipeline — coarse assign,
    residual encode, per-(query,list) LUT ADC, candidate truncation,
    exact cosine re-rank — compared against the brute-force per-query
    top-10 oracle (the dedup_embedding_ann exactness-gate pattern,
    extending the rows-only ivfpq reports with a driver-checkable
    equality). A hash-green row attests every stage end-to-end.

    Depth honesty: the parquet embeddings are UNIFORM RANDOM — ADC's
    adversarial geometry (quantization.py:557-569; reconstruction error
    exceeds neighbor gaps, ADC-only recall ~0.4) — so the candidate
    depth must be deep for the exact re-rank to provably cover the true
    top-10. Measured worst-case ADC rank of a true top-10 member at
    sf0.1 is 666/2000; rerank=1024 gives >1.5x margin there and is the
    FULL corpus at sf0.01 and below (equality provable, not just
    measured). Realistic clustered-geometry recall at shallow depth is
    attested separately (ivfpq_recall_report + test_quantization)."""
    from pdf_brain_spark.operators.quantization import (
        ivfpq_topk_exact_rerank_residual,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfpq_topk_exact_rerank_residual(
        emb, queries, k=10, n_probes=16, rerank=1024
    )


@query(
    "corpus_profile_sketch",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types_exact,
           TRUE AS hll_users_ok, TRUE AS hll_types_ok,
           TRUE AS p50_rank_ok, TRUE AS p99_rank_ok
    FROM events
    """,
)
def corpus_profile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based corpus profiling (§7 free Spark extensions —
    approx_count_distinct is HyperLogLog++, percentile_approx is a
    KLL-style rank sketch): one pass over the fact table, constant
    memory per executor, the way profiling runs at 100 TB.

    ORACLED via the invariant-boolean play (the n_false_positive=0
    device from embedding_neardup_recall, applied to sketches whose
    ESTIMATES are engine-specific by nature): the gate hash-compares
    the exact cardinalities and, alongside them, the sketch's ACCURACY
    CONTRACT as booleans the DuckDB twin pins to TRUE —
      * HLL++ user estimate (rsd=0.02 — the default 0.05 realizes a
        6.7% miss at the sf0.1 cardinality, a measured 1.3-sigma
        draw, so the profile runs the tighter sketch and the contract
        band stays 5% ≈ 2.5 sigma) within 5% of the exact distinct
        count (types is tiny-cardinality, where HLL++ is exact by its
        sparse-mode construction);
      * the KLL p50/p99 estimates land within ±1% RANK of their
        targets (default accuracy 10000 bounds rank error at 1e-4·n).
        The rank is the MID-RANK — count(< v) + count(= v)/2, kept
        exact by doubling (ADVICE r10): the plain <=-rank is
        tie-sensitive (a heavy tie AT the quantile value inflates it
        past the band on data shape, not on sketch error), while the
        mid-rank sits at the center of the tied mass, which is where
        the true quantile rank lives whatever the multiplicity.
    A sketch regression (estimate drift past contract, wrong quantile)
    flips a boolean and fails the driver hash BY NAME. The exact
    distincts are a shuffle the 100 TB profile run would skip — they
    exist here to certify the sketch, the production read stays the
    one-pass sketch row."""
    ev = load_table(spark, "events", sf_dir)
    prof = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users_exact"),
        F.countDistinct("event_type").cast("long").alias("n_types_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("_hll_users"),
        F.approx_count_distinct("event_type").alias("_hll_types"),
        F.percentile_approx("value", [0.5, 0.99]).getItem(0).alias("_p50"),
        F.percentile_approx("value", [0.5, 0.99]).getItem(1).alias("_p99"),
    )
    # doubled mid-ranks: 2·count(<v) + count(=v), exact integers
    ranks = (
        ev.crossJoin(F.broadcast(prof.select("_p50", "_p99")))
        .agg(
            (
                F.sum(F.when(F.col("value") < F.col("_p50"), 2).otherwise(0))
                + F.sum(F.when(F.col("value") == F.col("_p50"), 1).otherwise(0))
            ).cast("long").alias("_r50_2x"),
            (
                F.sum(F.when(F.col("value") < F.col("_p99"), 2).otherwise(0))
                + F.sum(F.when(F.col("value") == F.col("_p99"), 1).otherwise(0))
            ).cast("long").alias("_r99_2x"),
        )
    )
    # integer band checks on the doubled mid-rank: p50 in [0.49, 0.51]·n
    # is 100·r2x in [98, 102]·n; p99 in [0.98, 0.9999]·n is 10000·r2x in
    # [19600, 19998]·n — all-long products, no float boundary anywhere
    return (
        prof.crossJoin(F.broadcast(ranks))
        .select(
            "n_events",
            "n_users_exact",
            "n_types_exact",
            (
                F.abs(F.col("_hll_users") - F.col("n_users_exact"))
                <= F.col("n_users_exact") * 0.05
            ).alias("hll_users_ok"),
            (F.col("_hll_types") == F.col("n_types_exact")).alias("hll_types_ok"),
            (
                (F.col("_r50_2x") * 100 >= F.col("n_events") * 98)
                & (F.col("_r50_2x") * 100 <= F.col("n_events") * 102)
            ).alias("p50_rank_ok"),
            (
                (F.col("_r99_2x") * 10000 >= F.col("n_events") * 19600)
                & (F.col("_r99_2x") * 10000 <= F.col("n_events") * 19998)
            ).alias("p99_rank_ok"),
        )
    )


@query(
    "vector_search_with_docs",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
      FROM embeddings e, q
    ),
    hits AS (
      SELECT vec_id, label, d FROM scored ORDER BY d ASC, vec_id ASC LIMIT 10
    )
    SELECT h.vec_id, d.lang, d.source,
           round(1.0 - h.d / 2.0, 6) AS score
    FROM hits h JOIN documents d ON d.doc_id = h.vec_id
    ORDER BY h.d ASC, h.vec_id ASC
    """,
)
def vector_search_with_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE load-bearing reference join (J1, LibSQLDatabase.ts:325-337):
    ANN top-k candidates joined back to the document dimension. Candidate
    set is k rows; the documents side broadcasts — the join adds no
    shuffle to the TakeOrdered plan."""
    from pdf_brain_spark.operators.vector_search import topk_by_query_df

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    hits = topk_by_query_df(emb, qdf, k=10)
    return (
        hits.join(F.broadcast(docs), hits.vec_id == docs.doc_id)
        .select("vec_id", "lang", "source", F.round("score", 6).alias("score"))
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    )


@query(
    "library_stats",
    oracle="""
    SELECT (SELECT count(*) FROM documents) AS n_documents,
           (SELECT count(*) FROM embeddings) AS n_embeddings,
           (SELECT count(*) FROM events) AS n_events
    """,
)
def library_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library stats (reference A1, LibSQLDatabase.ts:537-557): scalar
    counts across tables, one row."""
    d = load_table(spark, "documents", sf_dir).agg(F.count(F.lit(1)).alias("n_documents"))
    e = load_table(spark, "embeddings", sf_dir).agg(F.count(F.lit(1)).alias("n_embeddings"))
    v = load_table(spark, "events", sf_dir).agg(F.count(F.lit(1)).alias("n_events"))
    return d.crossJoin(e).crossJoin(v)


@query(
    "concept_label_search",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE contains(lower(source), 'src1') OR contains(lower(lang), 'e')
    ORDER BY doc_id
    LIMIT 50
    """,
)
def concept_label_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concept label substring search (reference P9, cli.ts:2023-2041):
    case-insensitive substring over prefLabel/altLabels — source/lang
    stand in for the label fields."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.filter(
            F.lower(F.col("source")).contains("src1") | F.lower(F.col("lang")).contains("e")
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
        .limit(50)
    )


@query(
    "search_pipeline",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
    vec_arm AS (
      SELECT e.vec_id AS doc_id,
             1.0 - {_duck_cosine_distance('e.embedding', 'q.query_vec')} / 2.0 AS vec_score
      FROM embeddings e, q
      ORDER BY vec_score DESC, e.vec_id ASC LIMIT 20
    ),
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(len(tokens)) AS avgdl FROM toks),
    postings AS (
      SELECT doc_id, term, len_tokens AS doc_len, count(*) AS tf
      FROM (SELECT doc_id, unnest(tokens) AS term, len(tokens) AS len_tokens FROM toks)
      WHERE term IN ('data', 'analysis')
      GROUP BY doc_id, term, len_tokens
    ),
    dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term),
    fts_arm AS (
      SELECT doc_id, sum(
        ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
          * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.doc_len / s.avgdl))
      ) AS fts_score
      FROM postings p JOIN dfs d USING (term), stats s
      GROUP BY doc_id
      ORDER BY 2 DESC, doc_id ASC LIMIT 20
    ),
    merged AS (
      SELECT COALESCE(v.doc_id, f.doc_id) AS doc_id,
             CASE WHEN v.doc_id IS NOT NULL AND f.doc_id IS NOT NULL
                  THEN least(1.0, v.vec_score * 1.2)
                  ELSE COALESCE(v.vec_score, f.fts_score) END AS raw_score,
             CASE WHEN v.doc_id IS NOT NULL AND f.doc_id IS NOT NULL THEN 'hybrid'
                  WHEN v.doc_id IS NOT NULL THEN 'vector' ELSE 'fts' END AS match_type
      FROM vec_arm v FULL OUTER JOIN fts_arm f ON v.doc_id = f.doc_id
    )
    SELECT m.doc_id, d.lang, d.source,
           round(m.raw_score, 6) AS score, m.match_type
    FROM merged m JOIN documents d ON d.doc_id = m.doc_id
    WHERE m.raw_score >= 0.1
    ORDER BY round(m.raw_score, 6) DESC, m.doc_id ASC
    LIMIT 10
    """,
)
def search_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end §3.1 search lifecycle in ONE job: vector arm (exact
    cosine top-k over-fetched) ∪ BM25 arm → hybrid merge with the
    reference's boost (min(1, 1.2s) when both arms hit) → document join →
    threshold filter → final re-rank. The composite the reference runs as
    four sequential SQL round-trips, here a single DAG Catalyst plans
    end-to-end — with its own full-composition oracle."""
    from pdf_brain_spark.operators.fts import bm25_scores
    from pdf_brain_spark.operators.hybrid import hybrid_merge
    from pdf_brain_spark.operators.vector_search import topk_by_query_df

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    vec = (
        topk_by_query_df(emb, qdf, k=20)
        .select(F.col("vec_id").alias("doc_id"), F.col("score").alias("vec_score"))
    )
    fts = bm25_scores(docs, ["data", "analysis"], k=20).select(
        "doc_id", F.col("bm25").alias("fts_score")
    )
    merged = hybrid_merge(vec, fts, key_cols=["doc_id"])
    return (
        merged.join(F.broadcast(docs.select("doc_id", "lang", "source")), "doc_id")
        .filter(F.col("score") >= 0.1)
        .select("doc_id", "lang", "source", F.round("score", 6).alias("score"), "match_type")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@query(
    "events_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (§2.10 extension): Spark's session_window
    merges events into variable-length sessions with a 30-minute gap —
    the same operator drives streaming sessionization with state. A new
    session opens when the gap is ≥ the timeout (window end is
    exclusive), which the lag-gap oracle mirrors."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# module-level so the ORACLE f-string and the serving call below share the
# SAME derived constant — the gate can never drift from the documented
# recommendation (r10 review: the constant existed but the gate inlined 8)
from pdf_brain_spark.operators.ann import IVF_RECOMMENDED_PROBES as _IVF_PROBES  # noqa: E402


@query(
    "ann_recall_report",
    oracle=f"""
    WITH {_DUCK_CENTROIDS.strip()},
    assign AS (
      SELECT vec_id, label AS lst FROM (
        SELECT e.vec_id, c.label,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_DUCK_EUCLID.format(a='e.embedding', b='c.centroid')} ASC,
                          c.label ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 32),
    pr AS (
      SELECT query_id, label AS lst,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_duck_cosine_distance('qv', 'c.centroid')} ASC,
                        c.label ASC) AS prank
      FROM q CROSS JOIN cent c
    ),
    exact10 AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_duck_cosine_distance('e.embedding', 'q.qv')} ASC,
                          e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN q
      ) WHERE rn <= 10
    )
    SELECT e.query_id AS query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN p.prank <= {_IVF_PROBES} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN p.prank <= {_IVF_PROBES} THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS recall_ppm
    FROM exact10 e
    JOIN assign a USING (vec_id)
    JOIN pr p ON p.query_id = e.query_id AND p.lst = a.lst
    GROUP BY e.query_id ORDER BY e.query_id
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the PRODUCTION batched IVF scorer
    (ivf_search_topk_batch: driver probe assignment + Arrow partial-top-k
    + exact merge window) at 8 probes, against the production exact path
    (similarity_join_topk), for 32 queries — previously rows-only (the
    KMeans fit was not SQL-expressible), now ORACLED by the
    deterministic-quantizer play (VERDICT r9 item 2): the index is
    label_ivf_index (per-label-mean centroids, argmin-Euclid assignment),
    which the DuckDB twin replays, and the closed form 'a true top-10
    member is served iff its list's probe rank ≤ 8' reproduces the
    serving result exactly (a probed true neighbor's within-probe rank
    can only improve on its global rank). A dropped candidate, a wrong
    partial-top-k merge, or a probe mis-assignment in the production scorer
    flips the hash. Recall of the stochastic production FIT remains a
    bench/pytest claim (test_graph_and_ann); this gate pins the SERVING
    path. Hits are integer counts; recall is exact ppm."""
    from pdf_brain_spark.operators.ann import ivf_search_topk_batch, label_ivf_index
    from pdf_brain_spark.operators.vector_search import similarity_join_topk

    # localCheckpoint, not cache(): this wrapper returns a lazy plan, so it
    # can never unpersist safely — checkpoint blocks are ContextCleaner-
    # reclaimed when the result goes out of scope instead of accumulating
    emb = load_table(spark, "embeddings", sf_dir).localCheckpoint(eager=True)
    queries_df = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    indexed, centroids = label_ivf_index(emb)
    exact = similarity_join_topk(queries_df, emb, k=10).select(
        "query_id", "vec_id"
    )
    approx = (
        ivf_search_topk_batch(
            indexed, centroids, queries_df, k=10, n_probes=_IVF_PROBES
        )
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .withColumn("recall_ppm", F.expr("(n_hits * 1000000) div n_exact"))
        .orderBy("query_id")
    )


@query(
    "streaming_stateful_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    rolled AS (
      SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM sessions GROUP BY user_id, sid
    ),
    last AS (SELECT user_id, max(sid) AS last_sid FROM rolled GROUP BY user_id)
    SELECT r.user_id, r.session_start, r.session_end, r.n_events
    FROM rolled r JOIN last l ON r.user_id = l.user_id AND r.sid <> l.last_sid
    ORDER BY r.user_id, r.session_start
    """,
)
def streaming_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState,
    §2.11): per-user sessionization with explicit per-group state, run as
    a real AvailableNow stream into a memory sink. Emitted = sessions
    closed by an observed ≥30-min gap; each user's trailing open session
    stays in state — the oracle is batch sessionize minus last-session."""
    import os as _os
    import tempfile
    import uuid

    from pdf_brain_spark.streaming.events import streaming_sessionize

    path = _os.path.join(sf_dir, "events.parquet")
    # externally built sessions (the driver's) lack the NANOS conf
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_types = dict(spark.read.parquet(path).dtypes)
    if batch_types.get("ts") == "bigint":
        schema = (
            "event_id bigint, ts bigint, user_id bigint, "
            "event_type string, value double, props string"
        )
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        ev = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    qname = "stream_sess_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="sgraft_ckpt_")
    try:
        q = (
            streaming_sessionize(ev)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        q.awaitTermination()
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).orderBy("user_id", "session_start")


@query(
    "markdown_sections",
    oracle="""
    SELECT doc_id, 'Doc ' || doc_id AS fm_title, 2 AS n_sections
    FROM documents WHERE doc_id < 50
    ORDER BY doc_id
    """,
)
def markdown_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown extraction pipeline (S3/S4, MarkdownExtractor.ts): YAML
    frontmatter fast-path + heading-delimited section split as an
    Arrow-batched pandas UDF over synthesized markdown; per-doc section
    stats out. The synthesized markdown has a known parse (frontmatter
    title 'Doc {id}', exactly the # Intro and ## Body sections — the
    corpus text contains no headings), so the oracle re-derives the
    expected parse and the gate verifies the extractor end-to-end;
    splitting edge rules are known-answer-tested in
    tests/test_chunking.py."""
    import pandas as pd

    from pdf_brain_spark.functions.chunking import extract_frontmatter, extract_sections

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    md = docs.select(
        "doc_id",
        F.concat(
            F.lit("---\ntitle: Doc "), F.col("doc_id").cast("string"),
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

    return (
        md.mapInPandas(_extract, schema="doc_id long, fm_title string, n_sections int")
        .orderBy("doc_id")
    )


@query(
    "skew_salted_join",
    oracle="""
    SELECT o.o_orderkey, n.n_name
    FROM orders o JOIN nation n ON o.o_orderkey % 5 = n.n_nationkey
    WHERE o.o_orderkey < 2000
    ORDER BY o.o_orderkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for hot keys (§4 skew handling): o_orderkey%5 gives 5
    keys each owning 20% of the fact rows — a worst-case skew. The salt
    spreads each hot key across 8 reducers; result identical to the plain
    join (the oracle)."""
    from pdf_brain_spark.operators.skew import salted_join

    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", (F.col("o_orderkey") % 5).alias("n_nationkey"))
    )
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    return (
        salted_join(o, n, "n_nationkey", n_salts=8)
        .select("o_orderkey", "n_name")
        .orderBy("o_orderkey")
    )


@query(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLES.strip()},
    sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      {_DUCK_MINHASH_BANDED}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cands
      UNION
      SELECT doc_b, doc_a FROM cands
    ),
    reach AS (
      SELECT src AS node, src AS r FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
    )
    SELECT node, min(r) AS component
    FROM reach GROUP BY node ORDER BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH pair
    graph via iterative min-label propagation — the canonical-document
    grouping step after pair generation (each component keeps min doc_id
    as canonical). The oracle is a recursive-CTE reachability query."""
    from pdf_brain_spark.operators.dedup import connected_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(load_table(spark, "documents", sf_dir))
    return connected_components(pairs).orderBy("node")


@query(
    "dedup_decision_report",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLES.strip()},
    sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      {_DUCK_MINHASH_BANDED}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cands
      UNION
      SELECT doc_b, doc_a FROM cands
    ),
    reach AS (
      SELECT src AS node, src AS r FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           comp.component AS cluster_id,
           CASE WHEN comp.node IS NULL OR d.doc_id = comp.component
                THEN 'keep' ELSE 'drop' END AS decision
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_decision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE actionable dedup output a training pipeline consumes — one row
    per document with its duplicate-cluster id (NULL if unique) and a
    keep/drop decision (keep = the cluster's canonical min doc_id, and
    every un-clustered doc): the end-to-end composition of MinHash-LSH
    pair generation (dedup_minhash_lsh) and min-label connected
    components (dedup_components), which the gate otherwise attests only
    as separate stages. Adds one user-grain left join over the
    components output; the expensive stages are unchanged. The oracle
    extends the recursive-CTE reachability query with the same per-doc
    decision join."""
    from pdf_brain_spark.operators.dedup import connected_components, minhash_lsh_pairs

    docs = load_table(spark, "documents", sf_dir)
    comps = connected_components(minhash_lsh_pairs(docs))
    return (
        docs.select("doc_id")
        .join(comps.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("component").alias("cluster_id"),
            F.when(
                F.col("component").isNull() | (F.col("doc_id") == F.col("component")),
                F.lit("keep"),
            )
            .otherwise(F.lit("drop"))
            .alias("decision"),
        )
        .orderBy("doc_id")
    )


# dedup_minhash_verified's oracle needs the minhash signature SQL, which is
# built at import time from the shared coefficients
@query(
    "rag_concept_context",
    oracle=f"""
    WITH {_DUCK_CENTROIDS.strip()},
    queries AS (
      SELECT vec_id AS doc_id, embedding AS qv FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
      SELECT q.doc_id, CAST(c.label AS BIGINT) AS concept_id,
             {_DUCK_COS.format(a='c.centroid', b='q.qv')} /
             ({_DUCK_NORM.format(a='c.centroid')} * {_DUCK_NORM.format(a='q.qv')}) AS sim
      FROM cent c, queries q
    ),
    ranked AS (
      SELECT doc_id, concept_id, sim,
             row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, concept_id ASC) AS rank
      FROM scored WHERE sim >= -1.0
    )
    SELECT doc_id, concept_id, rank, round(sim, 6) AS sim
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def rag_concept_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG concept-context retrieval (reference M9,
    AutoTagger.ts:761-802): per-document top-3 nearest concepts as ONE
    batched similarity join — 20 docs × broadcast concept table in a
    single scan, where the reference loops one ANN probe per document."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.vector import cosine_similarity
    from pdf_brain_spark.operators.clustering import label_centroids

    emb = load_table(spark, "embeddings", sf_dir)
    queries_ = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("qv")
    )
    concepts = label_centroids(emb).select(
        F.col("label").cast("long").alias("concept_id"), F.col("centroid")
    )
    scored = queries_.crossJoin(F.broadcast(concepts)).withColumn(
        "sim", cosine_similarity("centroid", "qv")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("sim").desc(), F.col("concept_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "concept_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("doc_id", "rank")
    )


@query(
    "token_counts",
    oracle="""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS subword_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS chars4_estimate
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for budget accounting (training-data extension):
    whitespace tokens, BPE-ish word+punctuation tokens, and the chars/4
    heuristic — three codegen'd estimators per document."""
    from pdf_brain_spark.functions.text import subword_token_count, token_count

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        subword_token_count("text").alias("subword_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("chars4_estimate"),
    ).orderBy("doc_id")


@query(
    "promo_revenue",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'ECONOMY'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue: date-pruned fact scan × broadcast
    part dimension, conditional aggregation in one pass. The shipdate
    filter reaches the parquet scan; part broadcasts."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load_table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "part_type_rollup",
    oracle="""
    SELECT p_type, p_brand,
           count(*) AS n_parts,
           round(sum(p_retailprice), 4) AS total_price
    FROM part
    GROUP BY ROLLUP (p_type, p_brand)
    ORDER BY p_type NULLS FIRST, p_brand NULLS FIRST
    """,
)
def part_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over the part dimension (§2.4 note: grouping
    sets are a free Spark extension the reference lacks) — subtotals per
    (type, brand), per type, and grand total in one pass."""
    p = load_table(spark, "part", sf_dir)
    return (
        p.rollup("p_type", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("p_retailprice"), 4).alias("total_price"),
        )
        .orderBy(F.col("p_type").asc_nulls_first(), F.col("p_brand").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# Temporal joins + analytic windows (beyond-reference: the as-of /
# lag-lead / ranking surface a training-data event pipeline needs;
# SURVEY §2.3 notes the reference has no as-of or interval joins and
# §2.5 notes no rank/ntile/lag/lead)
# --------------------------------------------------------------------------


@query(
    "events_asof_join",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS last_purchase_ts,
           round(p.value, 6) AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent purchase at
    or before it. Spark lacks ASOF JOIN, and a range join explodes on wide
    intervals — so this is the union-and-window formulation: tag both
    streams, sort once per user, carry the last purchase forward with
    last(..., ignorenulls). One shuffle on user_id, no join at all; at
    100 TB both sides co-partition and the window is a single pass."""
    from pdf_brain_spark.operators.temporal import asof_backward_join

    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_backward_join(
        clicks, purch, key_col="user_id", payload_cols=("value",), prefix="last_purchase_"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "last_purchase_ts",
        F.round("last_purchase_value", 6).alias("last_purchase_value"),
    )


@query(
    "events_lag_lead",
    oracle="""
    SELECT user_id, event_id, event_type,
           round((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0, 6)
             AS secs_since_prev,
           round((epoch_us(lead(ts) OVER w) - epoch_us(ts)) / 1000000.0, 6)
             AS secs_until_next
    FROM events
    WHERE user_id < 40
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
)
def events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag/lead analytics: inter-event gaps per user in microsecond-exact
    seconds — the adjacent-row surface (SURVEY §2.5: absent in the
    reference) that feeds dwell-time and bot-rate features."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    prev_us = F.unix_micros(F.lag("ts").over(w))
    next_us = F.unix_micros(F.lead("ts").over(w))
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.round((us - prev_us) / 1_000_000.0, 6).alias("secs_since_prev"),
        F.round((next_us - us) / 1_000_000.0, 6).alias("secs_until_next"),
    )


@query(
    "events_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
             AS moving_avg_5,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS running_total
    FROM events
    WHERE user_id < 40 AND event_type = 'purchase'
    """,
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec windows (SURVEY §2.5: the reference has no frame
    specs): 5-row trailing moving average and running total of purchase
    value per user. Ordering includes event_id so ts ties resolve
    deterministically. One shuffle on user_id serves both frames; at
    100 TB this co-partitions with every other per-user window pass."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, "events", sf_dir)
        .filter((F.col("user_id") < 40) & (F.col("event_type") == "purchase"))
    )
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trailing = base.rowsBetween(-4, Window.currentRow)
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(trailing), 6).alias("moving_avg_5"),
        F.round(F.sum("value").over(running), 6).alias("running_total"),
    )


@query(
    "supplier_rank_by_nation",
    oracle="""
    WITH ranked AS (
      SELECT n.n_name AS nation, s.s_suppkey, s.s_name,
             round(s.s_acctbal, 4) AS acctbal,
             rank() OVER (PARTITION BY n.n_name
                          ORDER BY s.s_acctbal DESC, s.s_suppkey ASC) AS bal_rank,
             ntile(4) OVER (PARTITION BY n.n_name
                            ORDER BY s.s_acctbal DESC, s.s_suppkey ASC) AS quartile
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT nation, s_suppkey, s_name, acctbal, bal_rank, quartile
    FROM ranked WHERE bal_rank <= 3
    """,
)
def supplier_rank_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows (rank + ntile, §2.5: absent in the reference) over a
    broadcast dimension join: top-3 suppliers by balance per nation."""
    from pyspark.sql import Window

    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    w = Window.partitionBy("n_name").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("bal_rank", F.rank().over(w))
        .withColumn("quartile", F.ntile(4).over(w))
        .filter(F.col("bal_rank") <= 3)
        .select(
            F.col("n_name").alias("nation"),
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 4).alias("acctbal"),
            "bal_rank",
            "quartile",
        )
    )


@query(
    "user_segments",
    oracle="""
    WITH hi_click AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'click' AND value > 0.9
    ),
    hi_purchase AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > 0.9
    )
    SELECT user_id, 'both' AS segment
    FROM (SELECT user_id FROM hi_click INTERSECT SELECT user_id FROM hi_purchase)
    UNION ALL
    SELECT user_id, 'click_only' AS segment
    FROM (SELECT user_id FROM hi_click EXCEPT SELECT user_id FROM hi_purchase)
    UNION ALL
    SELECT user_id, 'purchase_only' AS segment
    FROM (SELECT user_id FROM hi_purchase EXCEPT SELECT user_id FROM hi_click)
    """,
)
def user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations (§2.7: absent in the reference) —
    audience segmentation by high-value click vs purchase behavior."""
    ev = load_table(spark, "events", sf_dir)
    hi = ev.filter(F.col("value") > 0.9)
    clicks = hi.filter(F.col("event_type") == "click").select("user_id").distinct()
    purch = hi.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return (
        clicks.intersect(purch)
        .withColumn("segment", F.lit("both"))
        .unionByName(clicks.subtract(purch).withColumn("segment", F.lit("click_only")))
        .unionByName(purch.subtract(clicks).withColumn("segment", F.lit("purchase_only")))
    )


@query(
    "train_val_test_split",
    oracle="""
    WITH assigned AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           min(doc_id) AS first_doc
    FROM assigned
    GROUP BY 1
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by portable content-free
    hash of the id — the assignment is stable across runs, engines, and
    re-shards (a row's split never depends on what else is in the corpus),
    which is the property a 100 TB training pipeline needs."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = md5_long(Fragment("CAST(doc_id AS STRING)"), 4) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


@query(
    "corpus_clean_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                             t -> t <> '')) AS n_tok,
             length(text) AS n_chars,
             (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
               / CAST(length(text) AS DOUBLE) AS punct,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                 t -> t IN ('the','and','of','to','a','in','is','that','it','for')))
               AS en_hits
      FROM documents
    ),
    quality AS (
      SELECT doc_id, keep_id, n_tok,
             least(n_tok / 100.0, 1.0)
             * (CASE WHEN n_tok > 0 AND n_chars / CAST(n_tok AS DOUBLE) >= 3.0
                          AND n_chars / CAST(n_tok AS DOUBLE) <= 12.0
                     THEN 1.0 ELSE 0.5 END)
             * (1.0 - least(punct * 5.0, 1.0))
             * (CASE WHEN en_hits > 0 THEN 1.0 ELSE 0.7 END) AS q
      FROM scored
    )
    SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                      AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                      AS BIGINT) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           CASE WHEN doc_id <> keep_id THEN 'duplicate'
                WHEN n_tok < 15 THEN 'too_short'
                WHEN q < 0.35 THEN 'low_quality'
                ELSE 'kept' END AS reason,
           count(*) AS n_docs,
           min(doc_id) AS first_doc
    FROM quality
    GROUP BY 1, 2
    """,
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus cleaning + deterministic 80/10/10 split report in
    ONE pass: exact-dup keep representative (window min over content
    hash), length gate, composite quality gate with first-match
    drop-reason attribution, crossed with the portable content-free
    hash-split assignment (a row's split never depends on the rest of the
    corpus — the property a 100 TB training pipeline needs). No joins —
    one shuffle + one aggregation. `train_val_test_split` stays
    registered as the standalone split API."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.text import quality_score, token_count

    docs = load_table(spark, "documents", sf_dir)
    keep_id = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    n_tok = token_count("text")
    reason = (
        F.when(F.col("doc_id") != keep_id, "duplicate")
        .when(n_tok < 15, "too_short")
        .when(quality_score("text") < 0.35, "low_quality")
        .otherwise("kept")
    )
    bucket = md5_long(Fragment("CAST(doc_id AS STRING)"), 4) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        docs.select(split.alias("split"), reason.alias("reason"), "doc_id")
        .groupBy("split", "reason")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


@query(
    "events_range_join",
    oracle="""
    SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id,
           round((epoch_us(e.ts) - epoch_us(p.ts)) / 1000000.0, 6) AS gap_seconds
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 6 HOUR
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join (errors within 6 h after each purchase, same user)
    via bucketization: both sides get a 6-hour bucket key, the purchase
    side duplicates into (b, b+1) so every qualifying pair meets on an
    EQUI key, then the exact interval predicate filters. Turns an
    unbounded theta join — a broadcast nested loop at scale — into one
    hash shuffle with ≤2× fan-out, independent of corpus size."""
    bucket_us = 6 * 3600 * 1_000_000
    ev = load_table(spark, "events", sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.explode(
            F.array(
                F.floor(F.unix_micros("ts") / bucket_us),
                F.floor(F.unix_micros("ts") / bucket_us) + 1,
            )
        ).alias("bucket"),
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.floor(F.unix_micros("ts") / bucket_us).alias("bucket"),
    )
    gap_us = F.unix_micros("e_ts") - F.unix_micros("p_ts")
    return (
        purch.join(err, (purch.user_id == err.e_user) & (purch.bucket == err.bucket))
        .filter((gap_us >= 0) & (gap_us <= bucket_us))
        .select(
            "purchase_id",
            "error_id",
            "user_id",
            F.round(gap_us / 1_000_000.0, 6).alias("gap_seconds"),
        )
    )


@query(
    "embedding_quantization",
    oracle="""
    WITH q AS (
      SELECT label, embedding,
             list_max(list_transform(embedding, x -> abs(x))) / 127.0 AS scale
      FROM embeddings
    ),
    err AS (
      SELECT label,
             list_sum(list_transform(embedding,
               x -> pow(x - greatest(least(floor(x / scale + 0.5), 127), -127) * scale, 2)))
               / len(embedding) AS mse
      FROM q WHERE scale > 0
    )
    SELECT label, count(*) AS n_vecs, round(avg(mse), 9) AS avg_mse
    FROM err GROUP BY label
    """,
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization error report — the engine-side analog of
    the reference's float8 index compression trade-off
    (LibSQLDatabase.ts:723-727: 4x smaller, ~1-2% recall loss). Per-vector
    max-abs scale, round-half-up to [-127,127], reconstruction MSE per
    label. Pure codegen'd array expressions; quantized storage would be
    written as array<tinyint> + one float scale (≈4x smaller)."""
    emb = load_table(spark, "embeddings", sf_dir)
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x))) / 127.0
    q = emb.select("label", "embedding", scale.alias("scale")).filter(F.col("scale") > 0)
    recon_err = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.pow(
                x
                - F.greatest(
                    F.least(F.floor(x / F.col("scale") + 0.5), F.lit(127.0)),
                    F.lit(-127.0),
                )
                * F.col("scale"),
                F.lit(2.0),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size("embedding")
    return (
        q.select("label", recon_err.alias("mse"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.round(F.avg("mse"), 9).alias("avg_mse"))
    )


@query(
    "grouped_topk_similarity",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.label, e.vec_id,
             {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
      FROM embeddings e, q
    ),
    ranked AS (
      SELECT label, vec_id, d,
             row_number() OVER (PARTITION BY label ORDER BY d ASC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT label, vec_id, rnk, round(1.0 - d / 2.0, 6) AS score
    FROM ranked WHERE rnk <= 3
    """,
)
def grouped_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest neighbors PER LABEL group (diversified retrieval — the
    grouped variant of W1's global top-k): one scan, similarity expression,
    rank window per group. At scale the window shuffle partitions by label,
    so no group ever gathers the whole corpus."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.vector import cosine_distance

    emb = load_table(spark, "embeddings", sf_dir)
    qvec = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    )
    scored = emb.crossJoin(qvec).select(
        "label", "vec_id", cosine_distance("embedding", "query_vec").alias("d")
    )
    w = Window.partitionBy("label").orderBy(F.col("d").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("label", "vec_id", "rnk", F.round(1.0 - F.col("d") / 2.0, 6).alias("score"))
    )


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup (§2.10 extension): the events table is
    staged TWICE into a directory (simulating an at-least-once upstream
    that re-delivers), streamed with dropDuplicatesWithinWatermark on
    event_id, drained with Trigger.AvailableNow. The per-type aggregate of
    the deduped sink must equal the batch aggregate of the ORIGINAL table
    — re-delivered rows vanish. State is bounded by the watermark horizon:
    dedup keys older than max_ts - 2h are evicted, which is what keeps
    this runnable forever at 100 TB/day."""
    import shutil
    import tempfile
    import uuid

    ev_batch = load_table(spark, "events", sf_dir)
    stage = tempfile.mkdtemp(prefix="sgraft_dedup_src_")
    ckpt = tempfile.mkdtemp(prefix="sgraft_ckpt_")
    try:
        ev_batch.write.mode("append").parquet(stage)
        ev_batch.write.mode("append").parquet(stage)

        schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        stream = (
            spark.readStream.schema(schema)
            .parquet(stage)
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        qname = "stream_dedup_" + uuid.uuid4().hex[:8]
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return (
        spark.table(qname)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )


@query(
    "multi_format_roundtrip",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_orders,
           round(sum(o.o_totalprice), 4) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def multi_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth (SURVEY §2.1 S-series analog): customer
    round-trips through CSV (header + explicit read schema), orders
    through JSON lines and then through ORC (the third columnar format
    Spark ships natively alongside parquet), then the standard
    broadcast-dim join/agg must give byte-identical results to the
    parquet originals. Explicit schemas on read — schema inference is a
    full extra pass at 100 TB and can type-drift; production sources
    always declare."""
    import shutil
    import tempfile

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    csv_dir = tempfile.mkdtemp(prefix="sgraft_csv_")
    json_dir = tempfile.mkdtemp(prefix="sgraft_json_")
    orc_dir = tempfile.mkdtemp(prefix="sgraft_orc_")
    try:
        cust.write.mode("overwrite").option("header", "true").csv(csv_dir)
        orders.write.mode("overwrite").json(json_dir)

        cust_rt = spark.read.schema(
            "c_custkey bigint, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string"
        ).option("header", "true").csv(csv_dir)
        orders_json = spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, o_totalprice double"
        ).json(json_dir)
        # JSON-read orders re-land as ORC and are read back: both legs of
        # the chain (text source → columnar sink → columnar source) are
        # exercised. Eagerly materialized so the scratch dirs can go.
        orders_json.write.mode("overwrite").orc(orc_dir)
        orders_rt = spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, o_totalprice double"
        ).orc(orc_dir)
        return (
            orders_rt.join(F.broadcast(cust_rt), orders_rt.o_custkey == cust_rt.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        for d in (csv_dir, json_dir, orc_dir):
            shutil.rmtree(d, ignore_errors=True)


@query(
    "lang_source_pivot",
    oracle="""
    SELECT lang,
           count(*) FILTER (WHERE source = 'src0') AS src0,
           count(*) FILTER (WHERE source = 'src1') AS src1,
           count(*) FILTER (WHERE source = 'src2') AS src2,
           count(*) FILTER (WHERE source = 'src3') AS src3
    FROM documents
    GROUP BY lang
    """,
)
def lang_source_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot reshaping: lang × source contingency matrix. The pivot values
    are DECLARED, not discovered — an undeclared pivot runs an extra
    distinct scan to find the columns and breaks schema stability when new
    sources appear; declared values keep it one map-side conditional agg."""
    docs = load_table(spark, "documents", sf_dir)
    out = (
        docs.groupBy("lang")
        .pivot("source", ["src0", "src1", "src2", "src3"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for empty cells; the FILTER oracle yields 0
    return out.select(
        "lang",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("src0", "src1", "src2", "src3")],
    )


# --------------------------------------------------------------------------
# LLM enrichment (SURVEY §2.9 M8) + LLM-output hygiene scalars (§2.8:
# JSON repair AutoTagger.ts:530-568, concept-id validation :977-1036)
# --------------------------------------------------------------------------


def _llm_enrichment_oracle() -> str:
    from pdf_brain_spark.functions.llm_json import duck_is_valid_concept_id

    # The oracle derives every output field DIRECTLY from the document row
    # — an independent re-derivation of what canned-LLM -> repair -> parse
    # -> validate must produce, not a replay of the repair chain.
    valid_pred = duck_is_valid_concept_id("c")
    return f"""
    WITH base AS (
      SELECT doc_id, lang, source,
             regexp_replace(regexp_replace(trim(text), '\\s+', ' ', 'g'),
                            '[^A-Za-z0-9 ]', '', 'g') AS cleaned
      FROM documents WHERE doc_id < 100
    ),
    fields AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(cleaned, ' '), 1, 4), ' ') AS title,
             trim(substr(cleaned, 1, 120)) || '...' AS summary,
             'article' AS doc_type,
             source AS category,
             CAST(3 AS BIGINT) AS n_tags,
             ['programming/' || lang, 'New/Concept', 'design/a b', 'meta/notes'] AS concepts
      FROM base
    )
    SELECT doc_id, title, summary, doc_type, category, n_tags,
           array_to_string(list_filter(concepts, c -> {valid_pred}), ',') AS valid_concepts_csv,
           CAST(len(concepts) - len(list_filter(concepts, c -> {valid_pred})) AS BIGINT) AS n_rejected
    FROM fields
    """


@query("llm_enrichment", oracle=_llm_enrichment_oracle())
def llm_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end M8 enrichment pipeline (AutoTagger.ts:1158-1325) with the
    deterministic LLM double: mapInPandas LLM seam emits realistically
    messy JSON, the native repair chain (AutoTagger.ts:530-568 parity)
    fixes it, get_json_object parses it, and proposed concept ids pass the
    validation gate (AutoTagger.ts:977-1036). The oracle re-derives the
    expected outputs directly from the document columns, so a defect
    anywhere in double -> repair -> parse -> validate breaks the hash."""
    from pdf_brain_spark.operators.enrich import enrich_documents

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    return enrich_documents(docs)


def _llm_json_repair_oracle() -> str:
    from pdf_brain_spark.functions.llm_json import duck_repair_llm_json

    repaired = duck_repair_llm_json("raw")
    return f"""
    WITH variants AS (
      SELECT doc_id, v.variant, v.raw
      FROM documents,
      LATERAL (
        SELECT * FROM (VALUES
          ('fenced',         concat('Answer:', chr(10), '```json', chr(10),
                                   '{{"title": "t', doc_id, '", "tags": ["a", "b"]}}', chr(10),
                                   '```')),
          ('trailing_comma', concat('{{"title": "t', doc_id, '", "tags": ["a", "b",],}}')),
          ('single_quotes',  concat('{{''title'': ''t', doc_id, ''', ''tags'': [''a'', ''b'']}}')),
          ('bare_keys',      concat('{{title: "t', doc_id, '", tags: ["a", "b"]}}'))
        ) AS v(variant, raw)
      ) v
      WHERE doc_id < 50
    )
    SELECT doc_id, variant,
           json_extract_string({repaired}, '$.title') AS title,
           CAST(json_array_length(json_extract({repaired}, '$.tags')) AS BIGINT) AS n_tags
    FROM variants
    """


@query("llm_json_repair", oracle=_llm_json_repair_oracle())
def llm_json_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON repair parity gate: four messy-LLM-output variants per document
    (markdown fence, trailing commas, single quotes, bare keys), repaired
    by the native regexp chain and parsed. Spark and DuckDB each run THEIR
    OWN copy of the repair chain — divergence in any rule flips the hash."""
    from pdf_brain_spark.functions.llm_json import repair_llm_json

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    did = F.col("doc_id").cast("string")
    variants = F.array(
        F.struct(
            F.lit("fenced").alias("variant"),
            F.concat(
                F.lit('Answer:\n```json\n{"title": "t'), did,
                F.lit('", "tags": ["a", "b"]}\n```'),
            ).alias("raw"),
        ),
        F.struct(
            F.lit("trailing_comma").alias("variant"),
            F.concat(
                F.lit('{"title": "t'), did, F.lit('", "tags": ["a", "b",],}')
            ).alias("raw"),
        ),
        F.struct(
            F.lit("single_quotes").alias("variant"),
            F.concat(
                F.lit("{'title': 't"), did, F.lit("', 'tags': ['a', 'b']}")
            ).alias("raw"),
        ),
        F.struct(
            F.lit("bare_keys").alias("variant"),
            F.concat(
                F.lit('{title: "t'), did, F.lit('", tags: ["a", "b"]}')
            ).alias("raw"),
        ),
    )
    exploded = docs.select("doc_id", F.explode(variants).alias("v")).select(
        "doc_id", F.col("v.variant").alias("variant"), F.col("v.raw").alias("raw")
    )
    repaired = exploded.withColumn("_json", repair_llm_json("raw"))
    return repaired.select(
        "doc_id",
        "variant",
        F.get_json_object("_json", "$.title").alias("title"),
        F.json_array_length(F.get_json_object("_json", "$.tags"))
        .cast("long")
        .alias("n_tags"),
    )


# --------------------------------------------------------------------------
# Training-data hygiene extensions: PII scrubbing, repetition (duplicate
# n-gram) filtering, and benchmark-contamination detection — the three
# cleaning stages every large-scale pretraining pipeline runs that the
# reference (a personal knowledge base) never needed.
# --------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?\d[\d-]{7,}\d"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "pii_scrub",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1-555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                  || ' ip 10.0.' || (doc_id % 256) || '.7' AS raw
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(raw, '{_PII_PHONE}')) AS n_phones,
           len(regexp_extract_all(raw, '{_PII_IP}')) AS n_ips,
           right(regexp_replace(regexp_replace(regexp_replace(raw,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g'), 64) AS scrubbed_tail
    FROM synth ORDER BY doc_id
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (training-data hygiene): email / phone / IP
    patterns counted and replaced with typed placeholders, as pure
    codegen'd regexp expressions — one map-side pass, no shuffle, which is
    the only shape that works when the scrub runs over 100 TB of raw
    crawl. PII is synthesized deterministically onto the corpus (the test
    tables contain none) so the oracle can verify count AND replacement
    byte-exactly."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE), F.lit("<PHONE>"),
        ),
        F.lit(_PII_IP), F.lit("<IP>"),
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_count(raw, F.lit(_PII_EMAIL)).alias("n_emails"),
            F.regexp_count(raw, F.lit(_PII_PHONE)).alias("n_phones"),
            F.regexp_count(raw, F.lit(_PII_IP)).alias("n_ips"),
            F.right(scrubbed, F.lit(64)).alias("scrubbed_tail"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(tokens) - 3, 1)),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3] || ' ' || tokens[i+4])) AS g
      FROM toks
    )
    SELECT doc_id, count(*) AS n_grams,
           count(DISTINCT g) AS n_distinct,
           round(1.0 - count(DISTINCT g) / CAST(count(*) AS DOUBLE), 6) AS dup_gram_frac,
           CASE WHEN 1.0 - count(DISTINCT g) / CAST(count(*) AS DOUBLE) > 0.05
                THEN 'drop_repetitious' ELSE 'keep' END AS verdict
    FROM grams
    WHERE g IS NOT NULL
    GROUP BY doc_id
    ORDER BY doc_id
    LIMIT 200
    """,
)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition gate (Gopher-style duplicate n-gram fraction): the share
    of a document's 5-gram occurrences that are repeats of an earlier
    5-gram in the SAME document. Both counts are row-local facts of the
    gram array (size / size∘distinct), so the whole gate is computed
    map-side with NO explode, NO groupBy, NO shuffle beyond the final
    top-200 ordering — which is what a within-document quality gate must
    be at 100 TB (cross-document dedup is the separate dedup_* family)."""
    from pdf_brain_spark.functions.guards import spread_scan
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    # single-file scan = one task; spread the CPU-bound shingle chain
    # across the cluster first (r16, guide §2.5 — conditional: no-op on
    # an already-parallel layout). Row-local outputs + a deterministic
    # (doc_id) final order make the result partitioning-insensitive.
    docs = spread_scan(load_table(spark, "documents", sf_dir), "doc_id")
    g = (
        # ≥5 tokens ⇔ ≥1 5-gram: the CHEAP equivalent of the former
        # size(_g) > 0 filter — a deterministic filter on the shingle
        # chain would be pushed below the spread exchange and re-run the
        # whole chain single-task at the scan (dedup's _shingle_set_df
        # precedent)
        docs.filter(F.size(tokenize("text")) >= 5)
        .select("doc_id", shingles(tokenize_sql("text"), 5).alias("_g"))
        .select(
            "doc_id",
            F.size("_g").alias("n_grams"),
            F.size(F.array_distinct("_g")).alias("n_distinct"),
        )
    )
    frac = F.lit(1.0) - F.col("n_distinct") / F.col("n_grams").cast("double")
    return (
        g.select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.round(frac, 6).alias("dup_gram_frac"),
            F.when(frac > 0.05, "drop_repetitious").otherwise("keep").alias("verdict"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "benchmark_contamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(tokens) - 1, 1)),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    train AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
    SELECT t.doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS contamination_rate
    FROM train t LEFT JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    ORDER BY n_contaminated DESC, t.doc_id
    LIMIT 50
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detector: which training documents share
    3-gram spans with a held-out benchmark set (docs with doc_id % 97 == 0
    stand in for the eval suite). The benchmark side is tiny by
    construction, so the overlap check is a BROADCAST semi-join against
    its distinct n-gram set — at 100 TB the train side streams map-side
    against a broadcast (or bloom-filtered) gram set, no shuffle of the
    corpus. Decontamination = anti-join on the same predicate."""
    from pdf_brain_spark.functions.guards import spread_scan
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    # r16: spread the single-task scan ahead of the shingle chain
    # (guide §2.5; exact-integer counts, partitioning-insensitive)
    docs = spread_scan(load_table(spark, "documents", sf_dir), "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokenize_sql("text"), 3))).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    hit = F.when(F.col("_hit").isNotNull(), 1).otherwise(0)
    joined = train.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "g", "left"
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(hit).alias("n_contaminated"),
            F.round(F.sum(hit) / F.count(F.lit(1)).cast("double"), 6).alias(
                "contamination_rate"
            ),
        )
        .orderBy(F.col("n_contaminated").desc(), "doc_id")
        .limit(50)
    )


@query(
    "boilerplate_ngram_report",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(tokens), 1)),
               i -> tokens[i] || ' ' || tokens[i+1]))) AS g
      FROM toks
    ),
    dfreq AS (
      SELECT g AS ngram, count(DISTINCT doc_id) AS df FROM grams
      WHERE g IS NOT NULL GROUP BY g
    ),
    total AS (SELECT count(*) AS n_docs FROM documents)
    SELECT ngram, df, round(df / CAST(t.n_docs AS DOUBLE), 6) AS doc_frac
    FROM dfreq, total t
    WHERE df >= 20
    ORDER BY df DESC, ngram ASC
    LIMIT 25
    """,
)
def boilerplate_ngram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detector (the C4/Gopher cleaning stage that
    precedes line/paragraph removal): the top repeated 2-gram phrases by
    DOCUMENT frequency — phrases appearing across many distinct documents
    are navigation chrome, license headers, templates.

    Plan shape at 100 TB: per-doc DISTINCT grams are computed map-side
    (array transform + array_distinct inside the scan projection), so the
    only shuffle is the gram-frequency aggregation — combiner-friendly,
    carrying one row per (doc, distinct gram), never positional copies.
    The report feeds a broadcast semi-join removal pass (same shape as
    benchmark_contamination's decontaminate arm)."""
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokenize_sql("text"), 2))).alias("ngram"),
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 20)
        .withColumn("doc_frac", F.round(F.col("df") / F.lit(float(n_docs)), 6))
        .orderBy(F.col("df").desc(), F.col("ngram").asc())
        .limit(25)
    )


@query(
    "sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
               % 8 AS shard,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                             t -> t <> '')) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT shard, doc_id, n_tok,
             CAST(FLOOR((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        / 2048.0) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT shard, bin_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(sum(n_tok) / 2048.0, 6) AS fill_rate
    FROM packed
    GROUP BY shard, bin_id
    ORDER BY shard, bin_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing for training (greedy-by-order into
    2048-token bins): every document lands in the bin where its running
    token total starts. The running sum is windowed PER SHARD (portable
    content-free hash of the id, 8 shards), so at 100 TB the packing is
    embarrassingly parallel across shards instead of one global sort —
    the same trade every distributed training-data packer makes (bin
    boundaries are per-shard, global order is not promised). Assignment
    is stable across runs/engines/re-shards: shard and order derive only
    from doc_id."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    shard = md5_long(Fragment("CAST(doc_id AS STRING)"), 4) % 8
    n_tok = F.size(tokenize("text"))
    toks = docs.select("doc_id", shard.alias("shard"), n_tok.alias("n_tok"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = toks.withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(2048.0)).cast("long"),
    )
    return (
        packed.groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.sum("n_tok") / F.lit(2048.0), 6).alias("fill_rate"),
        )
        .orderBy("shard", "bin_id")
    )


@query(
    "domain_mixture_sample",
    oracle="""
    WITH weighted AS (
      SELECT doc_id, source,
             1.0 / (1 + CAST(substr(source, 4) AS BIGINT) % 4) AS weight,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
               % 1000 AS bucket
      FROM documents
    )
    SELECT source, round(any_value(weight), 6) AS weight,
           count(*) AS n_total,
           CAST(sum(CASE WHEN bucket < weight * 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(sum(CASE WHEN bucket < weight * 1000 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS realized_rate
    FROM weighted
    GROUP BY source
    ORDER BY source
    """,
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted domain-mixture sampling — the data-mixing
    stage of a pretraining pipeline: each source gets a target sampling
    weight and a document is kept iff its portable content-free hash
    bucket falls under the weight. Map-only (no shuffle for the DECISION;
    the one aggregation here is just the per-source report), stable across
    runs, engines, and re-shards, and a document's fate never depends on
    what else is in the corpus — the property that lets 100 TB be sampled
    incrementally. Weights derive from the source id here (1, 1/2, 1/3,
    1/4 cycling) standing in for a configured mixture table."""
    docs = load_table(spark, "documents", sf_dir)
    weight = 1.0 / (
        1 + F.substring(F.col("source"), 4, 10).cast("long") % 4
    )
    bucket = md5_long(Fragment("CAST(doc_id AS STRING)"), 4) % 1000
    keep = F.when(bucket < weight * 1000, 1).otherwise(0)
    return (
        docs.select("doc_id", "source", weight.alias("weight"), keep.alias("_keep"))
        .groupBy("source")
        .agg(
            F.round(F.any_value("weight"), 6).alias("weight"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum("_keep").alias("n_kept"),
            F.round(F.sum("_keep") / F.count(F.lit(1)).cast("double"), 6).alias(
                "realized_rate"
            ),
        )
        .orderBy("source")
    )


@query(
    "ingest_sink_roundtrip",
    oracle=f"""
    WITH {_CHUNK_ORACLE_CTE}
    SELECT 'chunks' AS sink, count(*) AS n_rows FROM chunks
    UNION ALL
    SELECT 'documents', count(*) FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT 'documents_rerun', 0
    UNION ALL
    SELECT 'embeddings', count(*) FROM chunks
    ORDER BY sink
    """,
)
def ingest_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink attestation (S7/S8/S9, previously test-only in the SURVEY map):
    run the REAL ingest job — build_documents → chunk UDF → embed UDF →
    three parquet sinks — into a scratch dir, read the sinks back, and
    re-run the same files against the written documents table. The
    read-back row counts must equal the oracle's re-derivation from the
    source table (chunks/embeddings via the SQL chunker twin), and the
    rerun must ingest ZERO documents (S7 idempotency: the path anti-join
    drops every already-ingested file)."""
    import shutil
    import tempfile

    from pdf_brain_spark.operators.ingest import ingest

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    files = docs.select(
        F.col("doc_id").cast("string").alias("path"), F.col("text").alias("content")
    )
    out = tempfile.mkdtemp(prefix="sgraft_sink_rt_")
    try:
        ingest(spark, files, out)
        written_docs = spark.read.parquet(f"{out}/documents")
        rerun_counts = ingest(spark, files, out, existing_docs=written_docs)
        rows = [
            ("chunks", spark.read.parquet(f"{out}/chunks").count()),
            ("documents", spark.read.parquet(f"{out}/documents").count()),
            ("documents_rerun", rerun_counts["documents"]),
            ("embeddings", spark.read.parquet(f"{out}/embeddings").count()),
        ]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(rows, "sink string, n_rows long").orderBy("sink")


@query(
    "streaming_stream_join",
    oracle="""
    SELECT c.user_id, count(*) AS n_pairs,
           round(sum(p.value), 4) AS total_matched_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id
    ORDER BY c.user_id
    LIMIT 50
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream join run (§2.10, previously test-only): the
    events table is staged once, read as TWO independent file streams
    (clicks, purchases), joined with the watermarked time-bound inner
    join (operators in streaming/events.py: state evicted once rows can
    no longer match), drained with Trigger.AvailableNow into a memory
    sink. The drain is a single micro-batch (all staged files available
    at start), so no in-flight watermark eviction can drop matches and
    the result must equal the batch time-bound join the oracle runs."""
    import shutil
    import tempfile
    import uuid

    from pdf_brain_spark.streaming.events import stream_stream_join

    ev_batch = load_table(spark, "events", sf_dir)
    stage = tempfile.mkdtemp(prefix="sgraft_ssj_src_")
    ckpt = tempfile.mkdtemp(prefix="sgraft_ckpt_")
    try:
        ev_batch.write.mode("append").parquet(stage)
        schema = (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )

        def _typed_stream(etype: str) -> DataFrame:
            return (
                spark.readStream.schema(schema)
                .parquet(stage)
                .filter(F.col("event_type") == etype)
                .select("event_id", "ts", "user_id", "value")
            )

        joined = stream_stream_join(
            _typed_stream("click"), _typed_stream("purchase"), key="user_id", within="1 hour"
        )
        qname = "ssj_" + uuid.uuid4().hex[:8]
        q = (
            joined.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    sunk = spark.table(qname)
    # join the purchase value back on (the join emits ids + timestamps;
    # the memory sink is the ground truth for WHICH pairs matched)
    purch = ev_batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("right_event_id"), F.col("value")
    )
    return (
        sunk.join(purch, "right_event_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("value"), 4).alias("total_matched_value"),
        )
        .orderBy("user_id")
        .limit(50)
    )


@query(
    "streaming_incremental_dedup",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      {_DUCK_MINHASH_BANDED}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def streaming_incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the continuous-crawl dedup
    (streaming/events.py::streaming_incremental_dedup, previously
    pytest-only): documents staged as two arrival files, streamed one
    file per micro-batch through the foreachBatch probe-then-append
    driver against the persisted banded LSH index. The accumulated
    candidate subdirs, distinct over (doc_a, doc_b), must equal the
    one-shot full-corpus LSH banding the oracle computes — within-batch
    pairs come from each batch's self-probe, cross-batch pairs from
    probing the batch_id < N index partitions, nothing lost. Replay
    idempotency of the per-batch writes is separately pytest-attested
    (tests/test_ingest_and_streaming.py)."""
    from pdf_brain_spark.streaming.events import streaming_incremental_dedup

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    with replayed_stream(spark, docs, F.col("doc_id") < 400) as (stream, root):
        cands = f"{root}/cands"
        q = streaming_incremental_dedup(spark, stream, f"{root}/idx", cands, f"{root}/ckpt")
        q.awaitTermination()
        return (
            spark.read.parquet(cands)
            .select("doc_a", "doc_b")
            .distinct()
            .orderBy("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )


@query(
    "streaming_incremental_ann",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 9),
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
def streaming_incremental_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the incremental ANN index maintenance
    (streaming/ann_ingest.py): the embeddings table staged as two arrival
    files, streamed one file per micro-batch through the foreachBatch
    assign-and-append driver into the batch_id=N/list_id=L partitioned
    layout, then searched FROM STORAGE with an EXHAUSTIVE probe
    (n_probes = n_lists, the ann_ivf_topk invariant). The result must
    equal brute-force top-k over the whole table — which certifies the
    streaming ingest dropped no vector AND duplicated none (a vector
    landing in two batch generations would appear twice in the ordered
    top-k and flip the hash). Probe pruning and replay idempotency are
    pytest-attested (tests/test_ingest_and_streaming.py)."""
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.streaming.ann_ingest import (
        ivf_search_persisted,
        streaming_ann_ingest,
    )

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "label", "embedding")
    # fit once on the initial corpus (seeded, bounded sample); the
    # assignment pass kmeans_assign also returns stays unexecuted — only
    # the centroids are used, each micro-batch runs its own map-only assign
    _, centroids = kmeans_assign(emb, k=16, seed=42)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 9).first()["embedding"]]
    mid = emb.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    with replayed_stream(spark, emb, F.col("vec_id") <= mid) as (stream, root):
        idx = f"{root}/idx"
        streaming_ann_ingest(spark, stream, idx, centroids, f"{root}/ckpt").awaitTermination()
        res = ivf_search_persisted(
            spark, idx, centroids, qvec, k=12, n_probes=16
        )
        return res.select(
            "vec_id",
            "label",
            (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
            F.round("score", 6).alias("score"),
        ).localCheckpoint(eager=True)


@query(
    "streaming_ann_deletion",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 9),
    scored AS (
      SELECT e.vec_id, e.label,
             {_duck_cosine_distance('e.embedding', 'q.query_vec')} AS d
      FROM embeddings e, q
      WHERE e.vec_id % 7 <> 3
    )
    SELECT vec_id, label,
           round(d, 6) + 0.0 AS distance,
           round(1.0 - d / 2.0, 6) AS score
    FROM scored
    ORDER BY d ASC, vec_id ASC
    LIMIT 12
    """,
)
def streaming_ann_deletion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion on the streaming ANN index (streaming/ann_ingest.py::
    delete_vectors): the embeddings stream in as two arrival
    micro-batches, then every vec_id % 7 == 3 vector is tombstoned —
    the governance takedown on an append-only store. An EXHAUSTIVE
    search (n_probes = n_lists) must then equal brute-force top-12 over
    the SURVIVORS, which certifies both directions at once: every
    tombstoned vector is gone from serving, and no surviving vector was
    lost. The tombstone dir's reader-safety, compaction
    materialization, and post-floor re-ingest semantics are
    pytest-attested (test_index_deletion_tombstones)."""
    from pdf_brain_spark.operators.clustering import kmeans_assign
    from pdf_brain_spark.streaming.ann_ingest import (
        delete_vectors,
        ivf_search_persisted,
        streaming_ann_ingest,
    )

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "label", "embedding")
    _, centroids = kmeans_assign(emb, k=16, seed=42)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 9).first()["embedding"]]
    mid = emb.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    with replayed_stream(spark, emb, F.col("vec_id") <= mid) as (stream, root):
        idx = f"{root}/idx"
        streaming_ann_ingest(spark, stream, idx, centroids, f"{root}/ckpt").awaitTermination()
        delete_vectors(
            spark, idx, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"), 1
        )
        res = ivf_search_persisted(spark, idx, centroids, qvec, k=12, n_probes=16)
        return res.select(
            "vec_id",
            "label",
            (F.round("distance", 6) + F.lit(0.0)).alias("distance"),
            F.round("score", 6).alias("score"),
        ).localCheckpoint(eager=True)


@query(
    "streaming_incremental_rollup",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(*) AS n_events,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 4) AS total_value
    FROM events
    GROUP BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
    """,
)
def streaming_incremental_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of incremental rollup maintenance
    (streaming/events.py::ROLLUP): events staged
    as two arrival files SPLIT BY PARITY — so the second micro-batch is
    all late data for hours the first batch already covered — streamed
    through the foreachBatch partials writer, then served via
    read_rollup's re-aggregation. The result must equal the one-shot
    batch hourly rollup: partials from different batches for the same
    (type, hour) must combine losslessly, which is the whole design
    (count/sum are associative; no read-modify-write of existing
    buckets, no watermark needed for correctness)."""
    from pdf_brain_spark.streaming.events import ROLLUP, read_rollup

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    with replayed_stream(spark, ev, F.col("event_id") % 2 == 0) as (stream, root):
        roll = f"{root}/rollup"
        ROLLUP.stream(stream, roll, f"{root}/ckpt").awaitTermination()
        return read_rollup(spark, roll).localCheckpoint(eager=True)


@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * CAST(round((1.0 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE)
                 / 10000.0, 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the join-planning showcase the relational core
    lacked: a six-table star join (region → nation → customer → orders
    → lineitem → supplier) with the LOCAL-SUPPLIER constraint
    (c_nationkey = s_nationkey) that makes Q5 the classic join-order
    test. Spark-first shape: the three dimension tables broadcast
    (region 5 rows, nation 25, supplier small relative to facts), the
    date filter pushes to the orders scan, and the only shuffles are
    the fact-fact orderkey join and the final nation aggregate. Revenue
    is an EXACT INTEGER sum (cents × discount-percent products summed
    as int64, divided once at the end) so the cross-engine hash cannot
    hit a float summation-order boundary."""
    region = load_table(spark, "region", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    lineitem = load_table(spark, "lineitem", sf_dir)
    rev_units = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev_units).cast("double") / F.lit(10000.0), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "events_winsorized_stats",
    oracle="""
    WITH hist AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS b, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, b, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY b) AS c
      FROM hist
    ),
    tot AS (SELECT event_type, sum(n) AS total FROM hist GROUP BY 1),
    bounds AS (
      SELECT c.event_type,
             min(CASE WHEN c.c >= (1 * t.total + 99) // 100 THEN c.b END) AS lo,
             min(CASE WHEN c.c >= (99 * t.total + 99) // 100 THEN c.b END) AS hi
      FROM cum c JOIN tot t USING (event_type)
      GROUP BY 1
    )
    SELECT h.event_type,
           CAST(sum(h.n) AS BIGINT) AS n_events,
           round(CAST(b.lo AS DOUBLE) / 100.0, 2) AS lo_value,
           round(CAST(b.hi AS DOUBLE) / 100.0, 2) AS hi_value,
           CAST(sum(CASE WHEN h.b < b.lo THEN h.n ELSE 0 END) AS BIGINT) AS n_clipped_lo,
           CAST(sum(CASE WHEN h.b > b.hi THEN h.n ELSE 0 END) AS BIGINT) AS n_clipped_hi,
           round(CAST(sum(greatest(b.lo, least(b.hi, h.b)) * h.n) AS DOUBLE)
                 / (100.0 * sum(h.n)), 6) AS winsorized_mean
    FROM hist h JOIN bounds b USING (event_type)
    GROUP BY h.event_type, b.lo, b.hi
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorized statistics at exact cent-grain [p1, p99]
    (operators/analytics.py::winsorized_value_stats): quantile bounds,
    clip counts, and the winsorized mean all derived from ONE histogram
    aggregate with integer-arithmetic ranks and sums — the robust-
    scaling prep step, engine-identical by construction."""
    from pdf_brain_spark.operators.analytics import winsorized_value_stats

    return winsorized_value_stats(load_table(spark, "events", sf_dir))


@query(
    "corpus_curation_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(list_slice(arr, i, i + 7), ' ') AS gram
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(arr) - 7)) AS i) s
      WHERE len(arr) >= 8
    ),
    gd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY 1),
    novel AS (
      SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN gd.nd = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM grams g JOIN gd USING (gram) GROUP BY 1
    ),
    feats AS (
      SELECT b.doc_id,
             coalesce(round(CAST(nv.n_novel AS DOUBLE) / nv.n_grams, 6), 1.0) AS novr,
             len(b.arr) AS n_tok,
             length(b.text) AS n_chars,
             (length(b.text) - length(regexp_replace(b.text, '[.!?,;:]', '', 'g')))
               / CAST(length(b.text) AS DOUBLE) AS punct,
             len(list_filter(b.arr,
                 t -> t IN ('the','and','of','to','a','in','is','that','it','for')))
               AS en_hits
      FROM base b LEFT JOIN novel nv USING (doc_id)
    ),
    weighted AS (
      SELECT doc_id, novr,
             least(n_tok / 100.0, 1.0)
             * (CASE WHEN n_tok > 0 AND n_chars / CAST(n_tok AS DOUBLE) >= 3.0
                          AND n_chars / CAST(n_tok AS DOUBLE) <= 12.0
                     THEN 1.0 ELSE 0.5 END)
             * (1.0 - least(punct * 5.0, 1.0))
             * (CASE WHEN en_hits > 0 THEN 1.0 ELSE 0.7 END) AS q
      FROM feats
    ),
    decided AS (
      SELECT doc_id, novr, q,
             CAST(round(novr * q * 1000000) AS BIGINT) AS wi,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000000 AS draw_i
      FROM weighted
    )
    SELECT doc_id,
           round(novr, 6) AS novelty,
           round(q, 6) AS quality,
           CAST(wi AS DOUBLE) / 1000000.0 AS weight,
           CAST(draw_i AS DOUBLE) / 1000000.0 AS draw
    FROM decided WHERE draw_i < wi
    """,
)
def corpus_curation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware curation sampling (operators/analytics.py::
    curation_weighted_sample): sampling weight = gram-level novelty ×
    quality composite; membership decided by comparing the content-free
    per-doc hash draw against the weight in INTEGER micro-units — the
    flagship composition of the dedup, text-quality, and deterministic-
    sampling families into the pass a training pipeline actually runs."""
    from pdf_brain_spark.operators.analytics import curation_weighted_sample

    return curation_weighted_sample(load_table(spark, "documents", sf_dir))


@query(
    "events_debounce",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    bursts AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(sum(CASE WHEN epoch_us(ts) - prev_us > 60000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS BIGINT) AS burst_id
      FROM ordered
    ),
    sel AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type, burst_id ORDER BY ts, event_id
      ) AS rn FROM bursts
    ),
    stats AS (
      SELECT user_id, event_type, burst_id,
             min(ts) AS mts,
             count(*) AS n_collapsed,
             (max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS burst_span_seconds
      FROM bursts GROUP BY 1, 2, 3
    )
    SELECT s.user_id, s.event_type, s.burst_id,
           st.mts AS ts, s.event_id AS kept_event_id,
           st.n_collapsed, st.burst_span_seconds
    FROM sel s JOIN stats st USING (user_id, event_type, burst_id)
    WHERE s.rn = 1
    """,
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-collapse / debounce at 60 s on (user, type)
    (operators/temporal.py::debounce_events): retries and chatter
    collapse to one logical event per transitively-chained burst, with
    the collapsed count and span retained. Gaps-and-islands in one
    shuffle; DuckDB twin re-derives the identical bursts."""
    from pdf_brain_spark.operators.temporal import debounce_events

    return debounce_events(load_table(spark, "events", sf_dir), epsilon_seconds=60)


@query(
    "doc_novelty_scores",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(list_slice(arr, i, i + 7), ' ') AS gram
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(arr) - 7)) AS i) s
      WHERE len(arr) >= 8
    ),
    gd AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY 1),
    scored AS (
      SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN gd.nd = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM grams g JOIN gd USING (gram) GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(s.n_novel, 0) AS BIGINT) AS n_novel,
           round(CAST(s.n_novel AS DOUBLE) / s.n_grams, 6) AS novelty
    FROM base b LEFT JOIN scored s USING (doc_id)
    """,
)
def doc_novelty_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-level novelty weights (operators/dedup.py::novelty_scores):
    per doc, the fraction of its token-8-gram instances unique to it in
    the corpus — the dedup-aware sampling weight dual of the
    duplicate-span report, with the same no-pair-emission shape. The
    oracle re-derives the counts from gram text, certifying the int64
    gram-hash shuffle key loses nothing."""
    from pdf_brain_spark.operators.dedup import novelty_scores

    return novelty_scores(load_table(spark, "documents", sf_dir), k=8)


@query(
    "tfidf_top_terms",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    terms AS (SELECT doc_id, unnest(arr) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*) AS n_td FROM terms GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.n_td * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (term), n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, rank, tfidf FROM ranked WHERE rank <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (operators/analytics.py::
    tfidf_top_terms): smoothed idf, selection ordered on the
    6-dp-rounded score then term — document fingerprinting at term
    level, completing the text-analysis family next to keyword_scores
    (the reference's dampened-tf heuristic) with the standard
    corpus-statistical weighting."""
    from pdf_brain_spark.operators.analytics import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, "documents", sf_dir), k=3)


@query(
    "streaming_incremental_percentiles",
    oracle="""
    WITH b AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS bucket, count(*) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, sum(n) AS total FROM b GROUP BY 1),
    cum AS (
      SELECT event_type, bucket,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS c
      FROM b
    ),
    qs AS (SELECT unnest([50, 95, 99]) AS q_pct)
    SELECT cum.event_type,
           CAST(qs.q_pct AS DOUBLE) / 100.0 AS quantile,
           round(CAST(min(cum.bucket) AS DOUBLE) / 100.0, 2) AS value
    FROM cum JOIN tot USING (event_type), qs
    WHERE cum.c >= (qs.q_pct * tot.total + 99) // 100
    GROUP BY cum.event_type, qs.q_pct
    """,
)
def streaming_incremental_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of incremental percentile maintenance
    (streaming/events.py::VALUE_HISTOGRAM): exact
    percentiles are normally un-incremental, but a CENT-RESOLUTION
    histogram is a mergeable sketch whose quantiles of the cent-rounded
    distribution are exact — so the foreachBatch partials (event_type,
    cent bucket, n) merge by integer addition across arrival batches and
    the served p50/p95/p99 must equal the one-shot batch computation,
    which is the DuckDB oracle (type-1 quantile with the rank in integer
    arithmetic on BOTH sides). Events staged as two parity-split arrival
    files so the second micro-batch reshapes every bucket the first
    already wrote."""
    from pdf_brain_spark.streaming.events import (
        VALUE_HISTOGRAM,
        read_histogram_percentiles,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    with replayed_stream(spark, ev, F.col("event_id") % 2 == 0) as (stream, root):
        hist = f"{root}/hist"
        VALUE_HISTOGRAM.stream(stream, hist, f"{root}/ckpt").awaitTermination()
        return read_histogram_percentiles(spark, hist).localCheckpoint(eager=True)


@query(
    "streaming_rollup_backfill",
    oracle="""
    WITH h AS (SELECT time_bucket(INTERVAL 1 HOUR, min(ts)) AS h0 FROM events),
    norm AS (
      SELECT e.event_type, e.ts,
             CASE WHEN time_bucket(INTERVAL 1 HOUR, e.ts) = h.h0
                  THEN round(e.value * 2, 2) ELSE e.value END AS value
      FROM events e, h
    )
    SELECT event_type,
           time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(*) AS n_events,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 4) AS total_value
    FROM norm
    GROUP BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
    """,
)
def streaming_rollup_backfill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run + REPAIR of the incremental rollup
    (streaming/events.py::backfill_rollup): events stream in as two
    parity micro-batches, then the FIRST HOUR of history turns out to be
    wrong (every value doubled on re-measurement) and a backfill
    generation with floor=1 replaces that hour's additive partials with
    corrected ones — replacement semantics on the append-only store,
    reader-safe by namespace precedence. Served result must equal the
    one-shot batch rollup over the corrected fact table, which is the
    DuckDB oracle."""
    from pdf_brain_spark.streaming.events import (
        ROLLUP,
        backfill_rollup,
        read_rollup,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    with replayed_stream(spark, ev, F.col("event_id") % 2 == 0) as (stream, root):
        roll = f"{root}/rollup"
        ROLLUP.stream(stream, roll, f"{root}/ckpt").awaitTermination()
        h0 = ev.agg(F.date_trunc("hour", F.min("ts")).alias("h")).first()["h"]
        corrected = ev.filter(
            F.date_trunc("hour", F.col("ts")) == F.lit(h0)
        ).withColumn("value", F.round(F.col("value") * 2, 2))
        backfill_rollup(spark, roll, corrected, floor_batch_id=1)
        return read_rollup(spark, roll).localCheckpoint(eager=True)


@query(
    "stratified_sample_per_source",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, lang,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT source, doc_id, lang
    FROM ranked WHERE rn <= 5
    ORDER BY source, doc_id
    """,
)
def stratified_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly k=5 documents per source,
    chosen by ranking on the portable content-free hash of the id — a
    seedless, engine-stable reservoir ("give me the same 5 per domain every
    run") used for eval-set carving and manual corpus QA. One rank window
    partitioned by the stratum; at 100 TB each stratum ranks
    independently (no global sort) and the hash order is stable under
    re-sharding, unlike rand()-based sampleBy."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "lang")
        .orderBy("source", "doc_id")
    )


