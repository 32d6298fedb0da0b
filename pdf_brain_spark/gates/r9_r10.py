"""Gate definitions, round-9 and round-10 registrations (the r10/r11
rotation queues): quantization recall/compression reports, corpus
profile sketches, packing/waterfill planners, BPE merge steps,
discovery/sink roundtrips, calibration and shard-balance reports.

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
from pdf_brain_spark.gates.core import _CHUNK_ORACLE_CTE, _DUCK_CENTROIDS, _DUCK_EUCLID, _DUCK_MINHASH_BANDED, _DUCK_MINHASH_SIG, _DUCK_QUANT_X, _DUCK_SHINGLES, _duck_cosine_distance, _duck_kmeans_fit  # noqa: F401
from pdf_brain_spark.gates.r8_corpus_b import _THRESHOLD_CURVE_ORACLE, dedup_threshold_curve  # noqa: F401

# --------------------------------------------------------------------------
# Round-9 registrations (the round-10 rotation queue): registered after
# this round's GATE_WINDOW sealed; three-scale harness-attested at
# registration.
# --------------------------------------------------------------------------


@query(
    "kmeans_fit_2iter",
    oracle="""
    WITH dims AS (SELECT unnest(range(1, 65)) AS d),
    x AS (
      SELECT e.vec_id, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, dims d
    ),
    c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, d, v AS c FROM x WHERE vec_id < 4),
    a1 AS (
      SELECT x.vec_id, c0.cid, sum((x.v - c0.c) * (x.v - c0.c)) AS d2
      FROM x JOIN c0 USING (d) GROUP BY 1, 2
    ),
    m1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        FROM a1) WHERE rn = 1
    ),
    u1 AS (
      SELECT m1.cid, x.d, CAST(sum(x.v) // count(*) AS BIGINT) AS c
      FROM m1 JOIN x USING (vec_id) GROUP BY 1, 2
    ),
    c1 AS (
      SELECT c0.cid, c0.d, COALESCE(u1.c, c0.c) AS c
      FROM c0 LEFT JOIN u1 ON u1.cid = c0.cid AND u1.d = c0.d
    ),
    a2 AS (
      SELECT x.vec_id, c1.cid, sum((x.v - c1.c) * (x.v - c1.c)) AS d2
      FROM x JOIN c1 USING (d) GROUP BY 1, 2
    ),
    m2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        FROM a2) WHERE rn = 1
    ),
    u2 AS (
      SELECT m2.cid, x.d, CAST(sum(x.v) // count(*) AS BIGINT) AS c
      FROM m2 JOIN x USING (vec_id) GROUP BY 1, 2
    ),
    c2 AS (
      SELECT c1.cid, c1.d, COALESCE(u2.c, c1.c) AS c
      FROM c1 LEFT JOIN u2 ON u2.cid = c1.cid AND u2.d = c1.d
    ),
    sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM m2 GROUP BY 1)
    SELECT c2.cid AS cluster_id, CAST(c2.d - 1 AS INTEGER) AS dim_idx,
           c2.c AS coord_milli, COALESCE(sz.n, 0) AS n_members
    FROM c2 LEFT JOIN sz ON sz.cid = c2.cid
    ORDER BY cluster_id, dim_idx
    """,
)
def kmeans_fit_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means FIT step behind an exact oracle (VERDICT r8 item 6 —
    the kmeans_assign play applied one level up): two Lloyd's iterations
    from pinned seeds (quantized vectors of ids 0..3) entirely in exact
    integers (operators/clustering.py::kmeans_fit_exact_int), so the
    DuckDB twin unrolls the identical argmin+avg rounds and hash-matches
    the final centroids AND cluster sizes. With this, the production
    clustering suite's rows-only surface shrinks to BIC/soft statistics:
    assign is oracled (kmeans_assign), fit is oracled (here). Per
    iteration: one Arrow mapInPandas assign pass + one map-side-
    combinable (cid, dim) aggregate; only the k x dim centroid table is
    ever collected."""
    from pdf_brain_spark.operators.clustering import kmeans_fit_exact_int

    emb = load_table(spark, "embeddings", sf_dir)
    return kmeans_fit_exact_int(spark, emb, k=4, dim=64, n_iter=2).orderBy(
        "cluster_id", "dim_idx"
    )


@query(
    "weighted_reservoir_sample",
    oracle="""
    WITH s AS (
      SELECT doc_id, source, n_chars AS weight,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000) + 1 AS u_ppm
      FROM documents WHERE n_chars > 0
    ),
    keyed AS (
      SELECT doc_id, source, weight, u_ppm,
             round(CAST(CAST(round(ln(u_ppm / 1000000.0) * 1000000) AS BIGINT)
                        AS DOUBLE) / weight, 6) AS es_key
      FROM s
    )
    SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
           CAST(u_ppm AS BIGINT) AS u_ppm, es_key + 0.0 AS es_key
    FROM keyed ORDER BY es_key DESC, doc_id ASC LIMIT 50
    """,
)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass distributed weighted sampling without replacement
    (Efraimidis & Spirakis 2006, A-ES): each item draws u ~ U(0,1] and
    the k largest keys u^(1/w) ARE a weighted sample — the device that
    turns 'sample 50 docs proportionally to length' into a map-only
    expression + ONE TakeOrderedAndProject, no full sort, no sequential
    reservoir. Determinism discipline: u is the portable content-free
    md5 hash in ppm (identical on both engines, like the split/AQP
    samplers), the key orders by ln(u)/w (a monotone transform of
    u^(1/w)), ln quantizes ONCE to exact micro-nats, and the only float
    is the final division of two exact integers, 6dp-rounded on both
    sides. At 100 TB this is the weighted subsampling primitive the
    curation pipeline runs per shard: map + top-k, shuffle-free until
    the k-row merge. The A-ES proportionality property itself (not just
    engine parity) is tested against true uniforms in
    tests/test_randomized_references.py."""
    docs = load_table(spark, "documents", sf_dir)
    u = md5_long(Fragment("CAST(doc_id AS STRING)"), 8) % 1000000 + 1
    ln_micro = F.round(F.log(u.cast("double") / F.lit(1000000.0)) * 1000000).cast(
        "long"
    )
    key = F.round(ln_micro.cast("double") / F.col("n_chars"), 6)
    return (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("weight"),
            u.cast("long").alias("u_ppm"),
            key.alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(50)
    )


@query(
    "coverage_maximizing_sample",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS arr
      FROM documents
    ),
    raw AS (
      SELECT doc_id, term_a || ' ' || term_b AS term
      FROM (
        SELECT doc_id, unnest(arr[1:len(arr) - 1]) AS term_a,
               unnest(arr[2:len(arr)]) AS term_b
        FROM toks WHERE len(arr) >= 2
      )
    ),
    t AS MATERIALIZED (SELECT DISTINCT doc_id, term FROM raw),
    s1 AS (SELECT doc_id, count(*) AS g FROM t GROUP BY 1),
    p1 AS (SELECT doc_id, g FROM s1 ORDER BY g DESC, doc_id ASC LIMIT 1),
    c1 AS (SELECT DISTINCT t.term FROM t JOIN p1 USING (doc_id)),
    s2 AS (SELECT t.doc_id, count(*) AS g FROM t LEFT JOIN c1 USING (term)
           WHERE c1.term IS NULL GROUP BY 1),
    p2 AS (SELECT doc_id, g FROM s2 ORDER BY g DESC, doc_id ASC LIMIT 1),
    c2 AS (SELECT term FROM c1 UNION
           SELECT t.term FROM t JOIN p2 USING (doc_id)),
    s3 AS (SELECT t.doc_id, count(*) AS g FROM t LEFT JOIN c2 USING (term)
           WHERE c2.term IS NULL GROUP BY 1),
    p3 AS (SELECT doc_id, g FROM s3 ORDER BY g DESC, doc_id ASC LIMIT 1),
    c3 AS (SELECT term FROM c2 UNION
           SELECT t.term FROM t JOIN p3 USING (doc_id)),
    s4 AS (SELECT t.doc_id, count(*) AS g FROM t LEFT JOIN c3 USING (term)
           WHERE c3.term IS NULL GROUP BY 1),
    p4 AS (SELECT doc_id, g FROM s4 ORDER BY g DESC, doc_id ASC LIMIT 1),
    c4 AS (SELECT term FROM c3 UNION
           SELECT t.term FROM t JOIN p4 USING (doc_id)),
    s5 AS (SELECT t.doc_id, count(*) AS g FROM t LEFT JOIN c4 USING (term)
           WHERE c4.term IS NULL GROUP BY 1),
    p5 AS (SELECT doc_id, g FROM s5 ORDER BY g DESC, doc_id ASC LIMIT 1),
    c5 AS (SELECT term FROM c4 UNION
           SELECT t.term FROM t JOIN p5 USING (doc_id))
    SELECT CAST(step AS INTEGER) AS step, doc_id, CAST(gain AS BIGINT) AS gain,
           CAST(covered_after AS BIGINT) AS covered_after
    FROM (
      SELECT 1 AS step, doc_id, g AS gain,
             (SELECT count(*) FROM c1) AS covered_after FROM p1
      UNION ALL
      SELECT 2, doc_id, g, (SELECT count(*) FROM c2) FROM p2
      UNION ALL
      SELECT 3, doc_id, g, (SELECT count(*) FROM c3) FROM p3
      UNION ALL
      SELECT 4, doc_id, g, (SELECT count(*) FROM c4) FROM p4
      UNION ALL
      SELECT 5, doc_id, g, (SELECT count(*) FROM c5) FROM p5
    ) ORDER BY step
    """,
)
def coverage_maximizing_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage corpus selection (the (1-1/e) greedy for
    submodular coverage, Nemhauser/Wolsey/Fisher 1978): pick up to 5
    documents that together cover the most BIGRAM vocabulary — the
    coverage-sampling primitive for building small-but-diverse eval/seed
    sets (the unigram universe saturates in one pick on this corpus;
    the ~vocab² bigram universe exercises a real greedy trajectory).
    operators/analytics.py::greedy_set_cover runs one uncovered-elements
    aggregate + one TakeOrdered(1) per round with only the covered
    element set (bigram-vocabulary grain, bounded) on the driver; rounds
    stop when coverage saturates, and the oracle unrolls the same five
    argmax-marginal-gain rounds with identical lowest-doc-id ties. The
    gate emits (step, doc_id, gain, covered_after)."""
    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.operators.analytics import greedy_set_cover

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("_t")).filter(
        F.size("_t") >= 2
    )
    membership = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(F.col("_t"), 1, F.size("_t") - 1),
                lambda x, i: F.concat_ws(
                    " ", x, F.element_at(F.col("_t"), i + 2)
                ),
            )
        ).alias("term"),
    )
    rows = greedy_set_cover(membership, k=5)
    return spark.createDataFrame(
        rows, "step int, doc_id long, gain long, covered_after long"
    ).orderBy("step")


def _lsh_p_chain_sql(r: int, b: int) -> str:
    """SQL text for the LSH s-curve p = 1 - (1 - t^r)^b over the band
    midpoint, with BOTH powers expanded as explicit left-associative
    multiplication chains — the identical sequence of IEEE multiplies on
    both engines (generic pow() implementations may differ in the last
    ulp; a fixed multiplication chain cannot). Shared verbatim by the
    Spark plan (F.expr) and the DuckDB twin."""
    t = (
        "least((CAST(jaccard_band AS DOUBLE) * 100000 + 50000)"
        " / 1000000.0, 1.0)"
    )
    s = "(" + " * ".join([t] * r) + ")"
    q = f"(1.0 - {s})"
    qb = "(" + " * ".join([q] * b) + ")"
    return f"(1.0 - {qb})"


_LSH_PLAN_CONFIGS = [(64, 2), (32, 4), (16, 8), (8, 16)]  # bands x rows = 128


def _lsh_planner_oracle() -> str:
    branches = "\nUNION ALL\n".join(
        f"SELECT {b} AS bands, {r} AS rows_per_band, jaccard_band, n_pairs, "
        f"CAST(round({_lsh_p_chain_sql(r, b)} * 1000000) AS BIGINT) AS p_micro "
        f"FROM curve"
        for b, r in _LSH_PLAN_CONFIGS
    )
    return f"""
    WITH curve AS MATERIALIZED ({_THRESHOLD_CURVE_ORACLE}),
    scored AS (
      {branches}
    )
    SELECT CAST(bands AS INTEGER) AS bands,
           CAST(rows_per_band AS INTEGER) AS rows_per_band,
           CAST(sum(n_pairs) AS BIGINT) AS total_pairs,
           CAST(sum(n_pairs * p_micro) AS BIGINT) AS exp_candidates_micro,
           CAST(sum(CASE WHEN jaccard_band >= 5 THEN n_pairs ELSE 0 END) AS BIGINT)
             AS high_pairs,
           CAST(CASE WHEN sum(CASE WHEN jaccard_band >= 5 THEN n_pairs ELSE 0 END) = 0
                THEN NULL
                ELSE sum(CASE WHEN jaccard_band >= 5 THEN n_pairs * p_micro ELSE 0 END)
                     // sum(CASE WHEN jaccard_band >= 5 THEN n_pairs ELSE 0 END)
                END AS BIGINT) AS exp_recall_high_micro
    FROM scored GROUP BY 1, 2 ORDER BY bands DESC
    """


@query("lsh_config_planner", oracle=_lsh_planner_oracle())
def lsh_config_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding CONFIG PLANNER: predict, from THIS corpus's measured
    Jaccard pair distribution (the dedup_threshold_curve output), what
    each (bands, rows-per-band) MinHash configuration at 128 signatures
    would do — expected candidate-pair volume and expected recall on
    high-similarity (J >= 0.5) pairs — before committing a corpus-wide
    index build. The s-curve p(t) = 1-(1-t^r)^b evaluates at each
    band's midpoint via explicit multiplication chains (identical IEEE
    op sequence on both engines; see _lsh_p_chain_sql), quantizes ONCE
    to micro-units, and everything downstream is exact integer
    arithmetic — so the planner is fully oracle-able. Plan shape: the
    curve computes once (the audited DF-capped inverted index),
    localCheckpoints, and 4 literal config branches aggregate its 11
    rows — planner cost is the curve's cost. The s-curve formula itself
    (not just parity) is second-opinioned against math.pow in
    tests/test_randomized_references.py."""
    curve = dedup_threshold_curve(spark, sf_dir).localCheckpoint(
        eager=True
    )  # bounded: 11 band rows, consumed by 4 config branches
    parts = []
    for b, r in _LSH_PLAN_CONFIGS:
        parts.append(
            curve.select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                "jaccard_band",
                "n_pairs",
                F.round(F.expr(_lsh_p_chain_sql(r, b)) * 1000000)
                .cast("long")
                .alias("p_micro"),
            )
        )
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionByName(p)
    agg = scored.groupBy("bands", "rows_per_band").agg(
        F.sum("n_pairs").cast("long").alias("total_pairs"),
        F.sum(F.col("n_pairs") * F.col("p_micro"))
        .cast("long")
        .alias("exp_candidates_micro"),
        F.sum(F.when(F.col("jaccard_band") >= 5, F.col("n_pairs")).otherwise(0))
        .cast("long")
        .alias("high_pairs"),
        F.sum(
            F.when(
                F.col("jaccard_band") >= 5, F.col("n_pairs") * F.col("p_micro")
            ).otherwise(0)
        ).alias("_eh"),
    )
    return agg.select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
        "total_pairs",
        "exp_candidates_micro",
        "high_pairs",
        F.when(
            F.col("high_pairs") > 0,
            F.expr("_eh div high_pairs"),
        )
        .cast("long")
        .alias("exp_recall_high_micro"),
    ).orderBy(F.col("bands").desc())


@query(
    "token_coverage_curve",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             t -> t <> '')) AS term
      FROM documents
    ),
    freq AS (SELECT term, count(*) AS f FROM toks GROUP BY 1),
    tot AS (SELECT CAST(sum(f) AS BIGINT) AS total_tokens FROM freq),
    ranked AS (
      SELECT f,
             row_number() OVER (ORDER BY f DESC, term ASC) AS rn,
             sum(f) OVER (ORDER BY f DESC, term ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM freq
    )
    SELECT CAST(rn AS BIGINT) AS top_k, CAST(cum AS BIGINT) AS cum_tokens,
           CAST(cum * 1000000 // t.total_tokens AS BIGINT) AS share_ppm,
           t.total_tokens
    FROM ranked, tot t
    WHERE rn IN (1, 2, 5, 10, 20, 50, 100, 200)
    ORDER BY top_k
    """,
)
def token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary CONCENTRATION curve: the fraction of total corpus token
    mass covered by the top-k most frequent terms at a cutoff grid — the
    measurement behind tokenizer vocabulary sizing and stop-list choices
    (the cumulative companion of zipf_fit_report's log-log slope: the
    slope says how fast the tail decays, this says what a k-entry
    vocabulary actually buys). Exact integers end to end: term counts,
    then BOTH the rank and the cumulative mass from ONE stitched scan
    over the vocabulary axis (operators/stitched.py, r12 — negated
    frequency + term tiebreak; the vocabulary is the standing
    grows-with-corpus watch item, so this was a real single-partition
    risk, not a bounded-domain nicety), shares as (cum·1e6)//total
    floor division. The DuckDB oracle keeps the global-window form."""
    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    docs = load_table(spark, "documents", sf_dir)
    freq = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint(eager=True)  # total + the rank scan reuse it
    )
    tot = freq.agg(F.sum("f").cast("long").alias("total_tokens"))
    ranked = stitched_prefix_sums(
        freq.withColumn("_neg", -F.col("f")).withColumn(
            "_one", F.lit(1).cast("long")
        ),
        "_neg",
        ["_one", "f"],
        what="token-coverage vocabulary axis",
        tiebreak_cols=["term"],
    ).select(
        F.col("_one_cum").cast("long").alias("top_k"),
        F.col("f_cum").cast("long").alias("cum_tokens"),
    )
    return (
        ranked.filter(F.col("top_k").isin(1, 2, 5, 10, 20, 50, 100, 200))
        .crossJoin(F.broadcast(tot))
        .select(
            "top_k",
            "cum_tokens",
            F.expr("(cum_tokens * 1000000) div total_tokens").alias("share_ppm"),
            "total_tokens",
        )
        .orderBy("top_k")
    )


@query(
    "events_autocorrelation",
    oracle="""
    WITH hourly0 AS (
      SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS ih,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    bounds AS (SELECT min(ih) AS lo, max(ih) AS hi FROM hourly0),
    axis AS (SELECT unnest(range(lo, hi + 1)) AS ih FROM bounds),
    hourly AS (
      SELECT a.ih, COALESCE(h.cents, 0) AS x
      FROM axis a LEFT JOIN hourly0 h ON h.ih = a.ih
    ),
    sn AS (
      SELECT CAST(sum(x) AS HUGEINT) AS s, CAST(count(*) AS HUGEINT) AS n
      FROM hourly
    ),
    stats AS (
      SELECT sn.s, sn.n,
             sum((sn.n * h.x - sn.s) * (sn.n * h.x - sn.s)) AS den
      FROM hourly h CROSS JOIN sn
      GROUP BY sn.s, sn.n
    ),
    lags AS (SELECT unnest(range(1, 13)) AS lag),
    pairs AS (
      SELECT l.lag,
             count(*) AS n_pairs,
             sum((st.n * h1.x - st.s) * (st.n * h2.x - st.s)) AS num
      FROM lags l
      JOIN hourly h1 ON TRUE
      JOIN hourly h2 ON h2.ih = h1.ih + l.lag
      CROSS JOIN stats st
      GROUP BY l.lag, st.den
    )
    SELECT CAST(p.lag AS INTEGER) AS lag, CAST(p.n_pairs AS BIGINT) AS n_pairs,
           CASE WHEN st.den = 0 THEN NULL
                ELSE round(CAST(p.num AS DOUBLE) / CAST(st.den AS DOUBLE), 6)
           END + 0.0 AS acf
    FROM pairs p CROSS JOIN stats st
    ORDER BY lag
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly purchase-revenue series at
    lags 1..12 — the canonical seasonality/persistence diagnostic (the
    SELF-correlation companion of events_lead_lag_correlation's
    cross-correlation; a daily cycle shows as a local maximum near the
    24-lag family, white noise decays immediately). Standard estimator:
    shared full-series mean, denominator over the full series. Exactness
    discipline: the series densifies over the hour axis (missing hours
    are real zeros), every moment is an exact integer via the
    cross-multiplied (n·x − S) form in decimal-38/HUGEINT accumulators,
    and each lag's acf is ONE float division of two exact integers,
    6dp-rounded (NULL on a constant series). The 12-lag fan-out is over
    the bounded hour axis, never events."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    hourly0 = ev.groupBy(
        (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3600000000))
        .cast("long")
        .alias("ih")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    bounds = hourly0.agg(F.min("ih").alias("lo"), F.max("ih").alias("hi"))
    axis = bounds.select(F.explode(F.sequence("lo", "hi")).alias("ih"))
    hourly = (
        axis.join(hourly0, "ih", "left")
        .select("ih", F.coalesce("cents", F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)  # stats + both join arms reuse it
    )
    xd = F.col("x").cast("decimal(38,0)")
    stats = hourly.crossJoin(
        F.broadcast(
            hourly.agg(
                F.sum("x").cast("decimal(38,0)").alias("s"),
                F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            )
        )
    ).agg(
        F.first("s").alias("s"),
        F.first("n").alias("n"),
        F.sum(
            (F.col("n") * xd - F.col("s")) * (F.col("n") * xd - F.col("s"))
        ).alias("den"),
    )
    lags = spark.range(1, 13).select(F.col("id").cast("int").alias("lag"))
    h1 = hourly.select(F.col("ih").alias("ih1"), F.col("x").alias("x1"))
    h2 = hourly.select(F.col("ih").alias("ih2"), F.col("x").alias("x2"))
    x1d = F.col("x1").cast("decimal(38,0)")
    x2d = F.col("x2").cast("decimal(38,0)")
    pairs = (
        F.broadcast(lags)
        .join(h1, F.lit(True))
        .join(h2, F.col("ih2") == F.col("ih1") + F.col("lag"))
        .crossJoin(F.broadcast(stats))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("n") * x1d - F.col("s")) * (F.col("n") * x2d - F.col("s"))).alias("num"),
            F.first("den").alias("den"),
        )
    )
    return pairs.select(
        "lag",
        "n_pairs",
        F.when(
            F.col("den") != 0,
            F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6),
        ).alias("acf"),
    ).orderBy("lag")


def _keep_best_quality_oracle() -> str:
    return f"""
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
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    q AS (
      SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS quality
      FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                      t -> t <> '')) AS term
        FROM documents
      ) GROUP BY 1
    ),
    labeled AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    ),
    ranked AS (
      SELECT l.cluster_id, l.doc_id, q.quality,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality DESC, l.doc_id ASC) AS rn,
             CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS cluster_size
      FROM labeled l JOIN q USING (doc_id)
    )
    SELECT cluster_id, doc_id AS kept_doc_id, quality, cluster_size
    FROM ranked WHERE rn = 1 AND cluster_size > 1
    ORDER BY cluster_id
    """


@query("dedup_keep_best_quality", oracle=_keep_best_quality_oracle())
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate-cluster representative selection: within
    each MinHash-LSH duplicate cluster keep the RICHEST copy (argmax
    distinct-token count, tie lowest doc_id) instead of
    dedup_decision_report's lowest-id canonical — the keep rule real
    curation pipelines use, since near-duplicate groups typically mix a
    full document with truncated/boilerplate-injected variants and
    min-id keeps an arbitrary one. Reuses the audited pair + min-label
    component stages unchanged; adds one doc-grain quality aggregate and
    a PARTITIONED rank-1 window per cluster (cluster grain, shuffle on
    the cluster id — no global window). Emits multi-doc clusters only:
    (cluster_id, kept_doc_id, quality, cluster_size)."""
    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    comps = connected_components(minhash_lsh_pairs(docs)).withColumnRenamed(
        "node", "doc_id"
    )
    quality = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").cast("long").alias("quality"))
    )
    labeled = (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
        .join(quality, "doc_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    ranked = labeled.select(
        "cluster_id",
        "doc_id",
        "quality",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("cluster_size"),
    )
    return (
        ranked.filter((F.col("_rn") == 1) & (F.col("cluster_size") > 1))
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "quality",
            "cluster_size",
        )
        .orderBy("cluster_id")
    )


@query(
    "held_out_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
              % 100) AS b,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                    t -> t <> '')) AS term
      FROM documents
    ),
    v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS vocab FROM toks),
    trt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks WHERE b < 80),
    tr AS (SELECT term, count(*) AS tf FROM toks WHERE b < 80 GROUP BY 1),
    scored AS (
      SELECT t.doc_id, t.source,
             COALESCE(
               CAST(round(ln((tr.tf + 1.0) / (trt.total + v.vocab)) * 1000000) AS BIGINT),
               CAST(round(ln(1.0 / (trt.total + v.vocab)) * 1000000) AS BIGINT)
             ) AS lp,
             CASE WHEN tr.term IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN tr USING (term)
      CROSS JOIN trt CROSS JOIN v
      WHERE t.b >= 80 AND t.b < 90
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_val_docs,
           CAST(count(*) AS BIGINT) AS n_val_tokens,
           CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm,
           CAST(sum(lp) AS BIGINT) AS sum_micro_nats,
           round(exp(-CAST(sum(lp) AS DOUBLE) / (1000000.0 * count(*))), 4) + 0.0 AS ppl
    FROM scored GROUP BY source ORDER BY source
    """,
)
def held_out_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT perplexity evaluation with proper train/val separation —
    the eval-harness complement of unigram_perplexity_filter (which
    scores docs against the corpus's OWN LM, fine for filtering but
    leaky as an eval): the Laplace-smoothed unigram LM fits on the
    80% portable-hash train split ONLY and scores the 10% val split,
    reported per source with the OOV rate (the quantity a train-fitted
    LM must confront and a self-fitted one never sees). Exactness: the
    smoothed per-type log-prob — ln((tf+1)/(train_total+|V|)) — and the
    OOV constant quantize ONCE to integer micro-nats; per-source sums
    are exact integers; perplexity is one exp at the end, 4dp. Plan:
    one term shuffle for the LM, the LM broadcast back onto the val
    token stream, one source-grain aggregate."""
    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    bucket = md5_long(Fragment("CAST(doc_id AS STRING)"), 4) % 100
    toks = docs.select(
        "doc_id", "source", bucket.alias("_b"),
        F.explode(tokenize("text")).alias("term"),
    ).localCheckpoint(eager=True)  # vocab, train totals, LM, val all reuse it
    stats = (
        toks.agg(F.countDistinct("term").cast("long").alias("vocab"))
        .crossJoin(
            F.broadcast(
                toks.filter(F.col("_b") < 80).agg(
                    F.count(F.lit(1)).cast("long").alias("total")
                )
            )
        )
    )
    lm = (
        toks.filter(F.col("_b") < 80)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    denom = (F.col("total") + F.col("vocab")).cast("double")
    # the broadcast LM is train-term grain (⊆ the full vocab the stats
    # row already carries) — weld the Heaps-law tripwire into the
    # consumed log-prob so an exploding vocabulary fails by name here,
    # before the regime where the force-broadcast stops being the right
    # plan (zero extra exchanges: `vocab` already rides this crossJoin)
    from pdf_brain_spark.functions.guards import bounded_broadcast

    scored = (
        toks.filter((F.col("_b") >= 80) & (F.col("_b") < 90))
        .join(F.broadcast(lm), "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "source",
            bounded_broadcast(
                F.coalesce(
                    F.round(F.log((F.col("tf") + F.lit(1.0)) / denom) * 1000000)
                    .cast("long"),
                    F.round(F.log(F.lit(1.0) / denom) * 1000000).cast("long"),
                ),
                F.col("vocab"),
                "held_out_perplexity's broadcast unigram LM (train-term grain)",
            ).alias("lp"),
            F.when(F.col("tf").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_val_docs"),
            F.count(F.lit(1)).cast("long").alias("n_val_tokens"),
            F.expr("(sum(oov) * 1000000) div count(1)").alias("oov_ppm"),
            F.sum("lp").cast("long").alias("sum_micro_nats"),
        )
        .withColumn(
            "ppl",
            F.round(
                F.exp(
                    -F.col("sum_micro_nats").cast("double")
                    / (F.lit(1000000.0) * F.col("n_val_tokens"))
                ),
                4,
            ),
        )
        .orderBy("source")
    )


@query(
    "ivf_recall_curve",
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
          FROM embeddings WHERE vec_id < 16),
    pr AS (
      SELECT query_id, label AS lst,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_DUCK_EUCLID.format(a='qv', b='c.centroid')} ASC,
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
    ),
    j AS (
      SELECT e.query_id, p.prank
      FROM exact10 e
      JOIN assign a USING (vec_id)
      JOIN pr p ON p.query_id = e.query_id AND p.lst = a.lst
    ),
    depths AS (SELECT unnest([1, 2, 4, 8]) AS n_probes)
    SELECT CAST(d.n_probes AS INTEGER) AS n_probes,
           CAST(16 AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN j.prank <= d.n_probes THEN 1 ELSE 0 END) AS BIGINT)
             AS sum_hits,
           CAST(sum(CASE WHEN j.prank <= d.n_probes THEN 1 ELSE 0 END)
                * 1000000 // 160 AS BIGINT) AS recall_ppm
    FROM depths d CROSS JOIN j
    GROUP BY d.n_probes ORDER BY n_probes
    """,
)
def ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF OPERATING CURVE behind an exact oracle: recall@10 at probe
    depths 1/2/4/8 over 16 queries, with the deterministic per-label-mean
    coarse quantizer (the kmeans_assign play) standing in for the MLlib
    fit — which turns the previously rows-only approximation-quality
    claim (ann_recall_report quantifies the PRODUCTION KMeans index; the
    bench quantifies its latency) into a hash-compared table: list
    assignment is argmin Euclidean (lowest-label ties), probe order per
    query is the same argmin over query-centroid distances, exact truth
    is the brute-force cosine top-10, and a hit at depth d is
    'the true neighbor's list has probe rank ≤ d' — all joins and counts
    exact integers after the two attested argmin constructions. With
    ann_ivf_topk (losslessness at full depth) and this curve (quality at
    partial depth), every IVF serving claim has an oracle. Plan: one
    corpus×centroids argmin (broadcast, 10 rows), one corpus×16-query
    exact rank (bounded fan-out), integer joins."""
    from pdf_brain_spark.functions.vector import cosine_distance, euclidean_distance
    from pdf_brain_spark.operators.clustering import label_centroids
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir).localCheckpoint(eager=True)
    cent = (
        label_centroids(emb)
        .select(F.col("label").alias("clabel"), "centroid")
        .localCheckpoint(eager=True)  # bounded: one row per label
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        euclidean_distance("embedding", "centroid").asc(),
        F.col("clabel").asc(),
    )
    assign = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .withColumn("_rn", F.row_number().over(w_assign))
        .filter(F.col("_rn") == 1)
        .select("vec_id", F.col("clabel").alias("lst"))
    )
    q = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        euclidean_distance("qv", "centroid").asc(),
        F.col("clabel").asc(),
    )
    pr = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            F.col("clabel").alias("lst"),
            F.row_number().over(w_probe).alias("prank"),
        )
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        cosine_distance("embedding", "qv").asc(),
        F.col("vec_id").asc(),
    )
    exact10 = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(q))
        .withColumn("_rn", F.row_number().over(w_exact))
        .filter(F.col("_rn") <= 10)
        .select("query_id", "vec_id")
    )
    j = exact10.join(assign, "vec_id").join(
        F.broadcast(pr), ["query_id", "lst"]
    )
    depths = spark.createDataFrame(
        [(1,), (2,), (4,), (8,)], "n_probes int"
    )
    return (
        F.broadcast(depths)
        .join(j, F.lit(True))
        .groupBy("n_probes")
        .agg(
            F.lit(16).cast("long").alias("n_queries"),
            F.sum(
                F.when(F.col("prank") <= F.col("n_probes"), 1).otherwise(0)
            )
            .cast("long")
            .alias("sum_hits"),
        )
        .withColumn("recall_ppm", F.expr("(sum_hits * 1000000) div 160"))
        .orderBy("n_probes")
    )


@query(
    "session_gap_sensitivity",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS TIMESTAMP))
               AS gap_us
      FROM events
    ),
    agg AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u,
             CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS s5,
             CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 900000000 THEN 1 ELSE 0 END) AS BIGINT) AS s15,
             CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS s30,
             CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS s60
      FROM g
    )
    SELECT CAST(gap_minutes AS INTEGER) AS gap_minutes, n_sessions,
           CAST(n_sessions * 1000 // u AS BIGINT) AS sessions_per_user_milli
    FROM (
      SELECT 5 AS gap_minutes, s5 AS n_sessions, u FROM agg
      UNION ALL SELECT 15, s15, u FROM agg
      UNION ALL SELECT 30, s30, u FROM agg
      UNION ALL SELECT 60, s60, u FROM agg
    ) ORDER BY gap_minutes
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization GAP-PARAMETER sensitivity: how many sessions the
    corpus yields at inactivity gaps of 5/15/30/60 minutes — the
    measurement behind choosing the 30-minute constant every sessionize
    operator in this repo inherits (a session count that halves between
    two adjacent gaps says the choice matters; a flat curve says it
    does not). A session starts where the exact-microsecond gap to the
    user's previous event exceeds the threshold (first events start one
    by definition), so ALL four counts come from ONE per-user sorted
    window pass + ONE aggregate — the fan-out is over the gap grid of a
    single scalar row, never over events. Integer microseconds end to
    end (the events_debounce discipline); per-user rate in exact
    milli-sessions via floor division."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    )

    def _ns(minutes: int):
        us = minutes * 60_000_000
        return (
            F.sum(
                F.when(
                    F.col("gap_us").isNull() | (F.col("gap_us") > us), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"s{minutes}")
        )

    agg = gaps.agg(
        F.countDistinct("user_id").cast("long").alias("u"),
        _ns(5), _ns(15), _ns(30), _ns(60),
    )
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("gap_minutes"),
                        F.col(f"s{m}").alias("n_sessions"),
                        F.col("u").alias("u"),
                    )
                    for m in (5, 15, 30, 60)
                ]
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.gap_minutes").cast("int").alias("gap_minutes"),
        F.col("r.n_sessions").alias("n_sessions"),
        F.expr("(r.n_sessions * 1000) div r.u").alias("sessions_per_user_milli"),
    ).orderBy("gap_minutes")


# --------------------------------------------------------------------------
# Round-10 registrations — the round-11 rotation queue. Registered after
# this round's GATE_WINDOW sealed; three-scale harness-attested at
# registration; algorithmic ones carry pure-python second opinions in
# tests/test_randomized_references.py.
# --------------------------------------------------------------------------


@query(
    "packing_boundary_report",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                 t -> t <> '')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
      FROM d
    ),
    s AS (SELECT source, n_tok, cum_end, cum_end - n_tok AS cum_start FROM c)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST((sum(n_tok) + 2047) // 2048 AS BIGINT) AS n_chunks,
           CAST((sum(n_tok) + 2047) // 2048 * 2048 - sum(n_tok) AS BIGINT)
             AS tail_padding,
           CAST(sum(CASE WHEN n_tok >= 1
                          AND cum_start // 2048 <> (cum_end - 1) // 2048
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_docs,
           CAST(sum(CASE WHEN n_tok >= 1
                          AND cum_start // 2048 <> (cum_end - 1) // 2048
                     THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
             AS spanning_ppm
    FROM s GROUP BY source ORDER BY source
    """,
)
def packing_boundary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing BOUNDARY report at a 2048-token context
    (the GPT-style pretraining batch layout: concatenate each source's
    documents in a deterministic order, split every ctx tokens): per
    source, the chunk count, tail padding, and how many documents
    straddle a chunk boundary (the attention-contamination metric that
    motivates doc-boundary masking / best-fit packing) — the QUALITY
    companion of the r7 `sequence_packing` gate, which emits the
    per-shard bin ASSIGNMENTS themselves (this gate was briefly
    registered under that taken name; the duplicate-registration assert
    in @query now makes such a collision a loud import error). A doc
    spans a boundary iff floor(cum_start/ctx) != floor((cum_end-1)/ctx)
    over exact integer token cumsums — one per-source window pass + one
    aggregate, the same shape the real packing job runs per shard at
    100 TB (the window key is the source/shard, never a global order).
    Whitespace tokens via the repo-wide tokenize() convention; all
    counts integer, the ppm share floor-divided."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    d = docs.select(
        "source",
        "doc_id",
        F.size(tokenize("text")).cast("long").alias("n_tok"),
    )
    c = d.select(
        "source",
        "n_tok",
        F.sum("n_tok")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_end"),
    ).withColumn("cum_start", F.col("cum_end") - F.col("n_tok"))
    span = F.when(
        (F.col("n_tok") >= 1)
        & (
            F.expr("cum_start div 2048")
            != F.expr("(cum_end - 1) div 2048")
        ),
        1,
    ).otherwise(0)
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(span).cast("long").alias("_nspan"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr("(total_tokens + 2047) div 2048").alias("n_chunks"),
            (
                F.expr("(total_tokens + 2047) div 2048") * 2048
                - F.col("total_tokens")
            ).alias("tail_padding"),
            F.col("_nspan").alias("n_spanning_docs"),
            F.expr("(_nspan * 1000000) div n_docs").alias("spanning_ppm"),
        )
        .orderBy("source")
    )


@query(
    "token_budget_waterfill",
    oracle="""
    WITH d AS (
      SELECT source,
             CAST(sum(len(list_filter(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               t -> t <> ''))) AS BIGINT) AS capacity
      FROM documents GROUP BY source
    ),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(capacity) // 2 AS BIGINT) AS budget FROM d),
    r AS (
      SELECT d.source, d.capacity, g.n, g.budget,
             row_number() OVER (ORDER BY d.capacity ASC, d.source ASC) AS idx,
             sum(d.capacity) OVER (ORDER BY d.capacity ASC, d.source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d, g
    ),
    f AS (
      SELECT *, (cum + (n - idx) * capacity <= budget) AS is_full FROM r
    ),
    kk AS (
      SELECT CAST(count(*) FILTER (WHERE is_full) AS BIGINT) AS k,
             CAST(COALESCE(max(cum) FILTER (WHERE is_full), 0) AS BIGINT)
               AS cum_k
      FROM f
    ),
    lvl AS (
      SELECT k, cum_k,
             (SELECT budget FROM g) AS budget,
             ((SELECT budget FROM g) - cum_k) // ((SELECT n FROM g) - k)
               AS level,
             ((SELECT budget FROM g) - cum_k) % ((SELECT n FROM g) - k)
               AS rem
      FROM kk
    )
    SELECT f.source, f.capacity,
           CAST(CASE WHEN f.is_full THEN f.capacity
                     ELSE l.level + (CASE WHEN f.idx - l.k <= l.rem
                                          THEN 1 ELSE 0 END)
                END AS BIGINT) AS allocation,
           f.is_full AS fully_funded,
           CAST(l.level AS BIGINT) AS water_level,
           CAST(l.budget AS BIGINT) AS budget,
           TRUE AS sum_matches_budget
    FROM f, lvl l
    ORDER BY f.source
    """,
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min-fair TOKEN BUDGET allocation across sources (waterfilling
    — the dual of temperature_sampling_weights: instead of reweighting
    shares, cap every source at a common water level θ and fund small
    sources fully, with Σ alloc = budget exactly): the data-mixing
    primitive for 'train on B tokens, don't let one giant crawl drown
    the rest'. Exact integers end to end: source i (capacity-ascending,
    a prefix of which is fully funded — cum_i + (n−i)·c_i is provably
    non-decreasing, so the full set IS a prefix) gets c_i if
    cum_i + (n−i)·c_i ≤ B, else θ = (B − cum_K)//(n−K) with the
    division remainder handed to the first (B − cum_K) mod (n−K)
    unfunded sources in the same deterministic order — the emitted
    allocations sum EXACTLY to the budget, asserted by the
    sum_matches_budget boolean the twin pins TRUE. Model-grain: the
    window runs on the source axis (bounded enum); the corpus is
    touched once for capacities. Randomized python waterfill second
    opinion in tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    d = (
        docs.select("source", F.size(tokenize("text")).cast("long").alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("capacity"))
        .localCheckpoint(eager=True)  # source grain; reused by g and r
    )
    g = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(capacity) div 2").cast("long").alias("budget"),
    )
    order = [F.col("capacity").asc(), F.col("source").asc()]
    w = Window.orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = d.crossJoin(F.broadcast(g)).select(
        "source",
        "capacity",
        "n",
        "budget",
        bounded_axis(
            F.row_number().over(w).cast("long"),
            order,
            "waterfill source axis",
            safe_alternative="pre-aggregate to the source enum grain "
            "before ranking",
        ).alias("idx"),
        F.sum("capacity").over(wcum).alias("cum"),
    )
    f = r.withColumn(
        "is_full",
        (F.col("cum") + (F.col("n") - F.col("idx")) * F.col("capacity"))
        <= F.col("budget"),
    ).localCheckpoint(eager=True)  # consumed by kk AND the final projection
    kk = f.agg(
        F.sum(F.when(F.col("is_full"), 1).otherwise(0)).cast("long").alias("k"),
        F.coalesce(
            F.max(F.when(F.col("is_full"), F.col("cum"))), F.lit(0)
        )
        .cast("long")
        .alias("cum_k"),
        F.first("budget").alias("budget"),
        F.first("n").alias("n"),
    )
    # k == n (every source fully funded — an all-zero-capacity corpus,
    # since budget = total//2) leaves the water level undefined: Spark's
    # div would yield NULL while the DuckDB twin errors on /0 — an
    # engine-divergent failure mode. Raise BY NAME instead (ADVICE r10),
    # welded into the consumed expression so the guard cannot be pruned.
    _wf_guard = F.assert_true(
        F.col("n") > F.col("k"),
        F.lit(
            "token_budget_waterfill: every source is fully funded "
            "(k == n — total capacity is 0), so the water level is "
            "undefined; nothing to waterfill"
        ),
    )
    lvl = kk.select(
        "k",
        "cum_k",
        F.col("budget").alias("_budget"),
        F.when(_wf_guard.isNull(), F.expr("(budget - cum_k) div (n - k)")).alias(
            "level"
        ),
        ((F.col("budget") - F.col("cum_k")) % (F.col("n") - F.col("k"))).alias(
            "rem"
        ),
    )
    out = (
        f.drop("budget", "n")
        .crossJoin(F.broadcast(lvl))
        .select(
            "source",
            "capacity",
            F.when(F.col("is_full"), F.col("capacity"))
            .otherwise(
                F.col("level")
                + F.when(F.col("idx") - F.col("k") <= F.col("rem"), 1).otherwise(0)
            )
            .cast("long")
            .alias("allocation"),
            F.col("is_full").alias("fully_funded"),
            F.col("level").cast("long").alias("water_level"),
            F.col("_budget").cast("long").alias("budget"),
        )
        .localCheckpoint(eager=True)  # consumed by the sum check AND output
    )
    # loud self-check, also a hash-compared column: allocations must sum
    # EXACTLY to the budget (the remainder distribution guarantees it)
    chk = out.agg(
        (F.sum("allocation") == F.first("budget")).alias("sum_matches_budget")
    )
    return (
        out.crossJoin(F.broadcast(chk))
        .select(
            "source", "capacity", "allocation", "fully_funded",
            "water_level", "budget", "sum_matches_budget",
        )
        .orderBy("source")
    )


@query(
    "cross_source_quantile_calibration",
    oracle="""
    WITH d AS (
      SELECT source, doc_id,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                 t -> t <> '')) AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT source, n_tok,
             row_number() OVER (PARTITION BY source
               ORDER BY n_tok ASC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY source) AS cnt
      FROM d
    ),
    cells AS (
      SELECT source, CAST(((rn - 1) * 10) // cnt AS INTEGER) AS decile,
             count(*) AS n_docs, max(n_tok) AS decile_max_tokens
      FROM ranked GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d)
    SELECT c.source, c.decile, CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(c.decile_max_tokens AS BIGINT) AS decile_max_tokens,
           CAST((SELECT count(*) FROM d
                 WHERE d.n_tok <= c.decile_max_tokens) * 1000000
                // t.n_total AS BIGINT) AS global_rank_ppm
    FROM cells c, tot t
    ORDER BY c.source, c.decile
    """,
)
def cross_source_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source QUANTILE CALIBRATION table: each source's decile
    boundaries of the length-quality proxy (whitespace token count)
    mapped to their GLOBAL percentile — the measurement behind applying
    per-source (rather than global) quality thresholds: a cell where
    source A's top decile starts at the global 40th percentile says a
    single global cutoff would gut A. Deciles by exact integer rank
    (((rn−1)·10)//cnt over a (n_tok, doc_id)-deterministic order — no
    engine ntile semantics in play); the global mapping joins the
    BOUNDED boundary table (10 x sources rows, broadcast) back to the
    corpus for a <=-count, so the corpus is scanned twice and shuffled
    only to the source grain. All integers; ppm floor-divided."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "source",
        "doc_id",
        F.size(tokenize("text")).cast("long").alias("n_tok"),
    ).localCheckpoint(eager=True)  # consumed by cells AND the <=-count join
    w = Window.partitionBy("source").orderBy(
        F.col("n_tok").asc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("source")
    cells = (
        d.select(
            "source",
            "n_tok",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .select(
            "source",
            "n_tok",
            F.expr("((rn - 1) * 10) div cnt").cast("int").alias("decile"),
        )
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("n_tok").cast("long").alias("decile_max_tokens"),
        )
        # bounded (10 x sources rows); pinning it keeps the per-source
        # rank window to ONE corpus pass — without this the cells subtree
        # recomputes for both the boundary broadcast and the final join
        .localCheckpoint(eager=True)
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    bounds = cells.select(
        F.col("source").alias("_bsrc"),
        F.col("decile").alias("_bdec"),
        F.col("decile_max_tokens").alias("_bmax"),
    )
    le_counts = (
        d.select("n_tok")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("n_tok") <= F.col("_bmax"))
        .groupBy("_bsrc", "_bdec")
        .agg(F.count(F.lit(1)).cast("long").alias("n_le"))
        .select(
            F.col("_bsrc").alias("source"),
            F.col("_bdec").alias("decile"),
            "n_le",
        )
    )
    return (
        cells.join(le_counts, ["source", "decile"])
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "decile",
            "n_docs",
            "decile_max_tokens",
            F.expr("(n_le * 1000000) div n_total").alias("global_rank_ppm"),
        )
        .orderBy("source", "decile")
    )


def _duck_bpe_step(i: int) -> str:
    """One BPE merge step as CTEs at VOCAB grain: freq-weighted pair
    counts over adjacent symbols (identical to occurrence-grain counts,
    since every occurrence of a word contributes the same pairs),
    lexicographic-tied argmax, and the doubled-delimiter string-replace
    merge (|a||b| -> |ab| — the doubling makes adjacent occurrences
    independently matchable, so left-to-right replace-all IS the greedy
    BPE merge; proven against a list-based reference in
    tests/test_randomized_references.py). Expects w{i-1} (arr, freq) in
    scope."""
    return f"""
    c{i} AS (
      SELECT a, b, sum(freq) AS c FROM (
        SELECT unnest(arr[1:len(arr) - 1]) AS a,
               unnest(arr[2:len(arr)]) AS b, freq
        FROM w{i - 1} WHERE len(arr) >= 2)
      GROUP BY 1, 2
    ),
    b{i} AS (SELECT a, b, CAST(c AS BIGINT) AS c FROM c{i}
             ORDER BY c DESC, a ASC, b ASC LIMIT 1),
    w{i} AS (
      SELECT regexp_split_to_array(
        trim(replace('|' || array_to_string(arr, '||') || '|',
                     (SELECT '|' || a || '||' || b || '|' FROM b{i}),
                     (SELECT '|' || a || b || '|' FROM b{i})),
             '|'),
        '\\|\\|') AS arr, freq
      FROM w{i - 1}
    ),
    v{i} AS (
      SELECT CAST(count(DISTINCT s) AS BIGINT) AS v
      FROM (SELECT unnest(arr) AS s FROM w{i})
    )"""


@query(
    "bpe_merge_steps",
    oracle=f"""
    WITH words AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                                                      '\\s+'),
                    t -> t <> '')) AS w
      FROM documents
    ),
    wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words
      WHERE NOT contains(w, '|') GROUP BY w
    ),
    w0 AS (
      SELECT regexp_split_to_array(w, '') AS arr, freq FROM wf
    ),
    {','.join(_duck_bpe_step(i) for i in (1, 2, 3))}
    SELECT step, left_symbol, right_symbol, pair_count, n_symbols_after
    FROM (
      SELECT 1 AS step, a AS left_symbol, b AS right_symbol,
             c AS pair_count, (SELECT v FROM v1) AS n_symbols_after
      FROM b1
      UNION ALL
      SELECT 2, a, b, c, (SELECT v FROM v2) FROM b2
      UNION ALL
      SELECT 3, a, b, c, (SELECT v FROM v3) FROM b3
    ) ORDER BY step
    """,
)
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 3 merges of BPE TOKENIZER TRAINING (Sennrich et al.
    2016) over the corpus, hash-compared end to end: per step, count
    adjacent symbol pairs inside words (exact integers, overlapping
    positions counted like real BPE), merge the (count desc, pair asc)
    argmax everywhere with greedy left-to-right semantics, and report
    the merged pair, its count, and the symbol vocabulary size after —
    the operator a tokenizer-fitting pipeline runs to saturation at
    100 TB. The corpus collapses to the WORD-FREQUENCY table before the
    first iteration (bpe_merge_candidates' explode-after-aggregate
    play, applied to the whole training loop): every step thereafter —
    freq-weighted pair counts (identical to occurrence-grain counts by
    definition), the 1-row argmax collect, the map-only merge — runs at
    VOCAB grain, millions of rows where the token stream is trillions.
    The merge itself is the doubled-delimiter device: symbols joined as
    '|a||b||c|' make every adjacent pair an independent,
    non-overlapping match, so plain replace-all IS the greedy merge on
    BOTH engines (boundary-safety proven against a list-based python
    BPE on randomized sequences in
    tests/test_randomized_references.py). Words containing the
    delimiter are filtered identically on both sides (none in this
    corpus; loud portability note)."""
    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    w = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .filter(~F.col("w").contains("|"))
        .groupBy("w")  # the ONLY corpus-grain shuffle in the operator
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(F.split("w", "").alias("arr"), "freq")
        .localCheckpoint(eager=True)  # step-1 input scanned twice
    )
    out_rows = []
    for step in (1, 2, 3):
        pairs = (
            w.filter(F.size("arr") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(arr) - 1), "
                        "i -> struct(arr[i - 1] AS a, arr[i] AS b))"
                    )
                ).alias("p"),
                "freq",
            )
            .select("p.a", "p.b", "freq")
            .groupBy("a", "b")
            .agg(F.sum("freq").cast("long").alias("c"))
        )
        best_rows = pairs.orderBy(
            F.col("c").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()  # model grain: the argmax pair
        if not best_rows:
            raise ValueError(
                f"bpe_merge_steps: no adjacent symbol pairs at step {step} "
                "(corpus has no multi-symbol words left)"
            )
        a, b, c = best_rows[0]["a"], best_rows[0]["b"], int(best_rows[0]["c"])
        pat = F.lit("|" + a + "||" + b + "|")
        rep = F.lit("|" + a + b + "|")
        s = F.concat(F.lit("|"), F.array_join("arr", "||"), F.lit("|"))
        w = w.select(
            F.split(
                F.btrim(F.replace(s, pat, rep), F.lit("|")), r"\|\|"
            ).alias("arr"),
            "freq",
        ).localCheckpoint(eager=True)  # vocab count + next step reuse it
        vocab = int(
            w.select(F.explode("arr").alias("s"))
            .agg(F.countDistinct("s").alias("v"))
            .collect()[0]["v"]
        )
        out_rows.append((step, a, b, c, vocab))
    return spark.createDataFrame(
        out_rows,
        "step int, left_symbol string, right_symbol string, "
        "pair_count long, n_symbols_after long",
    ).orderBy("step")


@query(
    "directory_discovery_scan",
    oracle=f"""
    WITH {_CHUNK_ORACLE_CTE}
    SELECT 'chunks' AS phase, CAST(count(*) AS BIGINT) AS n FROM chunks
    UNION ALL
    SELECT 'incremental_docs', CAST(count(*) AS BIGINT)
    FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT 'initial_docs', CAST(count(*) AS BIGINT)
    FROM documents WHERE doc_id < 80
    ORDER BY phase
    """,
)
def directory_discovery_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory DISCOVERY attestation (S6, the last scan surface that
    was test-only in the SURVEY map): stage documents as real text files
    in a watch directory, run the REAL streaming_ingest (file-source
    readStream → foreachBatch batch-ingest, Trigger.AvailableNow), then
    stage 20 MORE files and run a second AvailableNow pass on the SAME
    checkpoint — the file-source offset log must discover exactly the
    new files (and ingest's path anti-join would drop any re-delivery),
    so the second count grows by exactly the increment. Chunk counts
    come from the reference chunker inside the ingest job and must match
    the SQL chunker twin over the same texts — discovery, exactly-once
    across restarts, and content fidelity through the file round-trip
    are all one hash. Bounded staging (100 files, driver-side writes at
    model grain); at 100 TB discovery is the same file-source offset
    log over an object-store listing."""
    import os
    import shutil
    import tempfile

    from pdf_brain_spark.streaming.events import streaming_ingest

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    rows = docs.select("doc_id", "text").collect()  # bounded: 100 docs
    by_id = {int(r["doc_id"]): r["text"] for r in rows}
    watch = tempfile.mkdtemp(prefix="sgraft_watch_")
    out = tempfile.mkdtemp(prefix="sgraft_ingest_out_")
    ckpt = tempfile.mkdtemp(prefix="sgraft_ingest_ckpt_")
    try:
        for i, txt in by_id.items():
            if i < 80:
                with open(os.path.join(watch, f"doc_{i:05d}.txt"), "w") as f:
                    f.write(txt)
        streaming_ingest(spark, watch, out, ckpt).awaitTermination()
        n_initial = spark.read.parquet(f"{out}/documents").count()
        for i, txt in by_id.items():
            if i >= 80:
                with open(os.path.join(watch, f"doc_{i:05d}.txt"), "w") as f:
                    f.write(txt)
        streaming_ingest(spark, watch, out, ckpt).awaitTermination()
        n_incr = spark.read.parquet(f"{out}/documents").count()
        n_chunks = spark.read.parquet(f"{out}/chunks").count()
    finally:
        for d in (watch, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [("chunks", n_chunks), ("incremental_docs", n_incr),
         ("initial_docs", n_initial)],
        "phase string, n long",
    ).orderBy("phase")


@query(
    "cluster_assignment_sink_roundtrip",
    oracle=f"""
    WITH {_DUCK_QUANT_X.strip()},
    {_duck_kmeans_fit(4, 2)},
    a3 AS (
      SELECT x.vec_id, c.cid, sum((x.v - c.c) * (x.v - c.c)) AS d2
      FROM x JOIN f_c2 c USING (d) GROUP BY 1, 2
    ),
    m3 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY d2 ASC, cid ASC) AS rn
        FROM a3) WHERE rn = 1
    )
    SELECT CASE WHEN vec_id < 50 THEN -1 ELSE cid END AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members
    FROM m3 GROUP BY 1 ORDER BY cluster_id
    """,
)
def cluster_assignment_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-assignment SINK attestation (S11, previously test-only):
    write the deterministic assignments (integer argmin to the
    exact-integer k=4 fit's final centroids) through the REAL
    upsert-by-key sink into a scratch table, then UPSERT a correction
    batch (vec_id < 50 reassigned to cluster −1) through the same sink,
    read the table back and report per-cluster sizes. The oracle
    re-derives the fit, the assignment, AND the post-upsert state in
    SQL — so replace-vs-keep semantics of the sink (anti-join + union +
    staged atomic swap, reference S7's ON CONFLICT DO UPDATE), not just
    the math, are hash-checked. At production scale the sink is a
    Delta/Iceberg MERGE with the identical plan shape (upsert_by_key
    docstring)."""
    import shutil
    import tempfile

    from pdf_brain_spark.operators.clustering import (
        fit_centroid_matrix,
        quantize_milli,
        quantized_d2,
    )
    from pdf_brain_spark.operators.ingest import upsert_by_key

    emb = load_table(spark, "embeddings", sf_dir)
    cmat = fit_centroid_matrix(spark, emb, k=4, dim=64, n_iter=2)
    q = quantize_milli(emb)
    best = F.array_min(
        F.array(*[
            F.struct(quantized_d2("q", cmat[c]).alias("d"), F.lit(c).alias("c"))
            for c in range(4)
        ])
    )
    assigned = q.select("vec_id", best.getField("c").alias("cluster_id"))
    out = tempfile.mkdtemp(prefix="sgraft_clsink_")
    tdir = f"{out}/cluster_assignments"
    try:
        upsert_by_key(spark, assigned, tdir, key="vec_id")
        correction = (
            assigned.filter(F.col("vec_id") < 50)
            .withColumn("cluster_id", F.lit(-1))
        )
        upsert_by_key(spark, correction, tdir, key="vec_id")
        res = (
            spark.read.parquet(tdir)
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
            .orderBy("cluster_id")
            .localCheckpoint(eager=True)  # read before the scratch dir dies
        )
        res.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return res


def _quality_dedup_grid_oracle() -> str:
    return f"""
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
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    dq AS (
      SELECT doc_id,
             CAST(count(DISTINCT term) AS BIGINT) AS quality,
             CAST(count(*) AS BIGINT) AS n_tok
      FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                      t -> t <> '')) AS term
        FROM documents
      ) GROUP BY 1
    ),
    labeled AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    ),
    csize AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM labeled GROUP BY 1
    ),
    per_doc AS (
      SELECT l.doc_id,
             CASE WHEN dq.quality < 16 THEN 0
                  WHEN dq.quality < 64 THEN 1
                  WHEN dq.quality < 256 THEN 2
                  WHEN dq.quality < 1024 THEN 3
                  ELSE 4 END AS quality_band,
             CASE WHEN c.cluster_size = 1 THEN 1
                  WHEN c.cluster_size = 2 THEN 2
                  WHEN c.cluster_size <= 4 THEN 3
                  WHEN c.cluster_size <= 8 THEN 4
                  ELSE 5 END AS dup_band,
             dq.n_tok
      FROM labeled l JOIN csize c USING (cluster_id) JOIN dq USING (doc_id)
    ),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM per_doc)
    SELECT CAST(quality_band AS INTEGER) AS quality_band,
           CAST(dup_band AS INTEGER) AS dup_band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_tok) * 1000000 // t.total AS BIGINT) AS token_share_ppm
    FROM per_doc, tot t
    GROUP BY quality_band, dup_band, t.total
    ORDER BY quality_band, dup_band
    """


@query("quality_dedup_grid", oracle=_quality_dedup_grid_oracle())
def quality_dedup_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality × duplication GRID — the data-ablation planning table
    ('what fraction of token mass is low-quality AND heavily duplicated,
    and what survives the keep rules'): every document lands in a
    (quality band × duplicate-cluster-size band) cell with doc counts,
    token mass, and corpus token share. Reuses the audited MinHash-LSH
    pair + min-label component stages UNCHANGED (dedup_keep_best_quality
    precedent); adds one doc-grain (quality, n_tok) aggregate, one
    cluster-size aggregate, and one cell-grain rollup. Bands are FIXED
    integer thresholds (quality: powers-of-4 CASE ladder; cluster size:
    1/2/3-4/5-8/9+), not data-dependent quantiles — so there is no
    global window anywhere and the shape survives 100× (the
    cross_source_quantile_calibration gate carries the quantile view;
    this grid is the scale-path one). All integers; share in floor ppm."""
    from concurrent.futures import ThreadPoolExecutor

    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)

    # r17 (guide §2.6, profiled): the gate is build-dominated (~3.0 s
    # build / 0.2 s collect warm at sf0.1) because the minhash pipeline
    # executes eagerly inside connected_components' checkpoints while
    # the INDEPENDENT (quality, n_tok) tokenize pass waits its turn.
    # Run the two corpus passes from a 2-thread pool (the
    # transitive_closure r16 pattern); dq materializes via an eager
    # checkpoint so the overlap is real work, not a deferred plan.
    # Content-identical either way; interleaved A/B 2.30/2.22 →
    # 2.02/1.90 s.
    def _comps() -> DataFrame:
        return connected_components(minhash_lsh_pairs(docs)).withColumnRenamed(
            "node", "doc_id"
        )

    def _dq() -> DataFrame:
        return (
            docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
            .groupBy("doc_id")
            .agg(
                F.countDistinct("term").cast("long").alias("quality"),
                F.count(F.lit(1)).cast("long").alias("n_tok"),
            )
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fc, _fd = _pool.submit(_comps), _pool.submit(_dq)
        comps, dq = _fc.result(), _fd.result()
    labeled = (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
    )
    csize = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    per_doc = (
        labeled.join(csize, "cluster_id")
        .join(dq, "doc_id")
        .select(
            F.when(F.col("quality") < 16, 0)
            .when(F.col("quality") < 64, 1)
            .when(F.col("quality") < 256, 2)
            .when(F.col("quality") < 1024, 3)
            .otherwise(4)
            .cast("int")
            .alias("quality_band"),
            F.when(F.col("cluster_size") == 1, 1)
            .when(F.col("cluster_size") == 2, 2)
            .when(F.col("cluster_size") <= 4, 3)
            .when(F.col("cluster_size") <= 8, 4)
            .otherwise(5)
            .cast("int")
            .alias("dup_band"),
            "n_tok",
        )
        .localCheckpoint(eager=True)  # consumed by the rollup AND the total
    )
    tot = per_doc.agg(F.sum("n_tok").cast("long").alias("total"))
    return (
        per_doc.groupBy("quality_band", "dup_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "quality_band",
            "dup_band",
            "n_docs",
            "total_tokens",
            F.expr("(total_tokens * 1000000) div total").alias("token_share_ppm"),
        )
        .orderBy("quality_band", "dup_band")
    )


def _minhash_calibration_oracle() -> str:
    from pdf_brain_spark.operators.dedup import MINHASH_HASHES

    eq_sum = " + ".join(
        f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)"
        for j in range(MINHASH_HASHES)
    )
    return f"""
    WITH {_DUCK_SHINGLES.strip()},
    sig AS ({_DUCK_MINHASH_SIG}),
    banded AS (
      {_DUCK_MINHASH_BANDED}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cands c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    pair AS (
      SELECT c.doc_a, c.doc_b,
             CAST(({eq_sum}) * 1000000 // {MINHASH_HASHES} AS BIGINT)
               AS est_ppm,
             CAST(COALESCE(i.i, 0) * 1000000
                  // (za.set_size + zb.set_size - COALESCE(i.i, 0)) AS BIGINT)
               AS exact_ppm
      FROM cands c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    )
    SELECT CAST(least(exact_ppm // 100000, 9) AS INTEGER) AS exact_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(abs(est_ppm - exact_ppm)) // count(*) AS BIGINT)
             AS mean_abs_err_ppm,
           CAST(sum(est_ppm) // count(*) AS BIGINT) AS mean_est_ppm,
           CAST(sum(exact_ppm) // count(*) AS BIGINT) AS mean_exact_ppm
    FROM pair GROUP BY 1 ORDER BY 1
    """


@query("minhash_estimator_calibration", oracle=_minhash_calibration_oracle())
def minhash_estimator_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR CALIBRATION on this corpus: for every LSH
    candidate pair, the signature estimate (matching components / H)
    against the EXACT shingle-set Jaccard, rolled up per exact-Jaccard
    decile band — the measured counterpart of lsh_config_planner's
    closed-form s-curve (the planner assumes the estimator is unbiased
    with variance J(1-J)/H; this gate reports the realized mean absolute
    error per band, the evidence for trusting — or resizing — the
    16-hash signature). Everything is exact integers: component matches
    are equality counts on the integer minhashes, exact Jaccard is
    (1e6·|∩|)//|∪| on distinct shingle sets, band means floor-divide.
    Candidates only (the LSH contract bounds pair volume at Σ bucket²,
    never n²); exact intersections computed via array_intersect on the
    per-doc shingle sets carried alongside the signatures — one
    candidate-grain join, no shingle re-shuffle. Zero-overlap candidates
    (pure hash collisions) are kept at i=0 on both engines."""
    from pdf_brain_spark.operators.dedup import (
        MINHASH_HASHES,
        _lsh_pairs_from_signatures,
        _shingle_set_df,
        minhash_signatures_from_sets,
    )

    docs = load_table(spark, "documents", sf_dir)
    sets = _shingle_set_df(docs, "doc_id", "text", 3).localCheckpoint(
        eager=True
    )  # one shingle pass shared by signatures AND exact verification
    sig = minhash_signatures_from_sets(sets).localCheckpoint(
        eager=True
    )  # consumed by banding AND the per-pair match count
    cands = _lsh_pairs_from_signatures(sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(MINHASH_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(MINHASH_HASHES)],
    )
    za = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("_seta"))
    zb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("_setb"))
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(MINHASH_HASHES)
    ).cast("long")
    inter = F.size(F.array_intersect("_seta", "_setb")).cast("long")
    uni = (F.size("_seta") + F.size("_setb")).cast("long") - inter
    pair = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            matches.alias("_m"),
            inter.alias("_i"),
            uni.alias("_u"),
        )
        # integer floor division on BOTH engines (a float quotient
        # truncated can differ from the true floor at near-integer values)
        .select(
            F.expr(f"(_m * 1000000) div {MINHASH_HASHES}").alias("est_ppm"),
            F.expr("(_i * 1000000) div _u").alias("exact_ppm"),
        )
    )
    return (
        pair.groupBy(
            F.least(F.expr("exact_ppm div 100000"), F.lit(9))
            .cast("int")
            .alias("exact_band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(abs(est_ppm - exact_ppm)) div count(1)").alias(
                "mean_abs_err_ppm"
            ),
            F.expr("sum(est_ppm) div count(1)").alias("mean_est_ppm"),
            F.expr("sum(exact_ppm) div count(1)").alias("mean_exact_ppm"),
        )
        .orderBy("exact_band")
    )


@query(
    "shard_balance_report",
    oracle="""
    WITH d AS (
      SELECT (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                   AS BIGINT) % 64) AS shard,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                 t -> t <> '')) AS n_tok
      FROM documents
    ),
    per AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens
      FROM d GROUP BY 1
    ),
    g AS (
      SELECT CAST(max(total_tokens) AS BIGINT) AS mx,
             CAST(min(total_tokens) AS BIGINT) AS mn,
             CAST(sum(total_tokens) // count(*) AS BIGINT) AS mean_tokens
      FROM per
    )
    SELECT p.shard, p.n_docs, p.total_tokens,
           CAST(g.mx * 1000000 // g.mean_tokens AS BIGINT)
             AS max_over_mean_ppm,
           CAST(g.mn * 1000000 // g.mean_tokens AS BIGINT)
             AS min_over_mean_ppm
    FROM per p, g
    ORDER BY p.shard
    """,
)
def shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shard BALANCE report: token mass per md5(doc_id)%64 shard,
    with the max/mean and min/mean skew ratios every row carries — the
    measured evidence behind the repo-wide convention of keying
    samplers, splits, packers, and salting on the content-free portable
    md5 hash (a max/mean near 1e6 ppm says the sharding balances token
    mass, so the per-shard operators — A-ES sampling, packing,
    held-out splits — get even work; a hot shard would surface here
    before it surfaces as a straggler task). One map-side projection +
    one 64-group aggregate + a broadcast 3-number summary; at 100 TB
    this is the cheapest possible skew probe (the expensive one,
    per-KEY skew_profile, already exists for hot-key diagnosis). All
    integers, floor-div ppm."""
    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    shard = md5_long(Fragment("CAST(doc_id AS STRING)"), 4) % 64
    per = (
        docs.select(shard.alias("shard"), F.size(tokenize("text")).alias("n_tok"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .localCheckpoint(eager=True)  # consumed by the summary AND output
    )
    g = per.agg(
        F.max("total_tokens").cast("long").alias("_mx"),
        F.min("total_tokens").cast("long").alias("_mn"),
        F.expr("sum(total_tokens) div count(1)").cast("long").alias("_mean"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            F.expr("(_mx * 1000000) div _mean").alias("max_over_mean_ppm"),
            F.expr("(_mn * 1000000) div _mean").alias("min_over_mean_ppm"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Round-10 late additions — the round-12 queue (the round-11 queue was
# already at its 14-slot capacity when these were registered; they wait
# one extra rotation, three-scale attested like everything else).
# --------------------------------------------------------------------------


@query(
    "kneser_ney_heldout",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                   AS BIGINT) % 100) AS b,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS arr
      FROM documents
    ),
    trp AS (
      SELECT a, w FROM (
        SELECT unnest(arr[1:len(arr) - 1]) AS a, unnest(arr[2:len(arr)]) AS w
        FROM d WHERE b < 80 AND len(arr) >= 2)
    ),
    cvw AS (SELECT a, w, CAST(count(*) AS BIGINT) AS c FROM trp GROUP BY 1, 2),
    cv AS (SELECT a, CAST(sum(c) AS BIGINT) AS cv,
                  CAST(count(*) AS BIGINT) AS n1v FROM cvw GROUP BY 1),
    cw AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM cvw GROUP BY 1),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM cvw),
    vp AS (
      SELECT source, a, w, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT source, unnest(arr[1:len(arr) - 1]) AS a,
               unnest(arr[2:len(arr)]) AS w
        FROM d WHERE b >= 80 AND b < 90 AND len(arr) >= 2)
      GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT vp.source, vp.n,
             CASE WHEN cw.w IS NULL THEN 1 ELSE 0 END AS oov,
             CASE WHEN cw.w IS NULL THEN NULL
                  WHEN cv.a IS NULL THEN
                    CAST(round(ln(CAST(cw.n1w AS DOUBLE) / tt.t)
                               * 1000000) AS BIGINT)
                  ELSE
                    CAST(round(ln(
                      CAST(greatest(4 * COALESCE(cvw.c, 0) - 3, 0) * tt.t
                           + 3 * cv.n1v * cw.n1w AS DOUBLE)
                      / CAST(4 * cv.cv * tt.t AS DOUBLE)) * 1000000) AS BIGINT)
             END AS lp
      FROM vp
      LEFT JOIN cvw ON cvw.a = vp.a AND cvw.w = vp.w
      LEFT JOIN cv ON cv.a = vp.a
      LEFT JOIN cw ON cw.w = vp.w
      CROSS JOIN tt
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_val_bigrams,
           CAST(sum(oov * n) * 1000000 // sum(n) AS BIGINT) AS oov_ppm,
           CAST(sum(CASE WHEN oov = 0 THEN n ELSE 0 END) AS BIGINT)
             AS n_scored,
           CASE WHEN sum(CASE WHEN oov = 0 THEN n ELSE 0 END) = 0 THEN NULL
                ELSE CAST(-sum(CASE WHEN oov = 0 THEN n * lp ELSE 0 END)
                          // sum(CASE WHEN oov = 0 THEN n ELSE 0 END)
                     AS BIGINT)
           END AS xent_micro_nats,
           CASE WHEN sum(CASE WHEN oov = 0 THEN n ELSE 0 END) = 0 THEN NULL
                ELSE round(exp(
                  CAST(-sum(CASE WHEN oov = 0 THEN n * lp ELSE 0 END)
                       // sum(CASE WHEN oov = 0 THEN n ELSE 0 END)
                  AS DOUBLE) / 1000000.0), 4) + 0.0
           END AS ppl
    FROM sc GROUP BY source ORDER BY source
    """,
)
def kneser_ney_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1999), trained on the 80% portable-hash split and scored on
    the 10% val split per source — the counts-of-counts smoothing family
    the LM-eval surface lacked (held_out_perplexity is add-one unigram;
    this is the absolute-discount back-off that actually models bigram
    burstiness). The discount D = 3/4 makes the whole probability an
    EXACT integer ratio via the x4 encoding:

      p(w|v) = [max(4·c(vw) − 3, 0)·T + 3·N1+(v·)·N1+(·w)]
               / (4·c(v)·T),          T = N1+(··)

    (unseen context v backs off to the continuation unigram
    N1+(·w)/T; OOV w — no continuation mass — is excluded and reported
    as oov_ppm, the held_out_perplexity convention). Both engines take
    ONE ln per val bigram TYPE over bit-identical integer-ratio doubles,
    quantized to micro-nats (the established play), then integer-weight
    it by the val pair count; cross-entropy is an integer floor
    division and ppl one 4dp exp. That Σ_w p(w|v) = 1 EXACTLY (the KN
    mass identity) is proven in exact rationals on randomized count
    tables in tests/test_randomized_references.py. Plan: pair counts
    are map-side-combinable aggregates at bigram-type grain; the val
    scoring joins are all type-grain (never token-grain); tt broadcasts
    as a 1-row aggregate."""
    from pdf_brain_spark.functions.text import tokenize

    # r16 A/B: spread_scan here measured +0.53 s (1.31→1.84 warm min) —
    # reverted (tokenize-only chain; see OPTIMIZATION_r16.md).
    docs = load_table(spark, "documents", sf_dir)
    b = md5_long(Fragment("CAST(doc_id AS STRING)"), 4) % 100
    d = docs.select(
        "source", b.alias("b"), tokenize("text").alias("arr")
    ).localCheckpoint(eager=True)  # scanned by the train AND val arms

    def _pairs(df):
        return (
            df.filter(F.size("arr") >= 2)
            .select(
                "source",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(arr) - 1), "
                        "i -> struct(arr[i - 1] AS a, arr[i] AS w))"
                    )
                ).alias("p"),
            )
            .select("source", "p.a", "p.w")
        )

    trp = _pairs(d.filter(F.col("b") < 80)).select("a", "w")
    cvw = (
        trp.groupBy("a", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # feeds cv, cw, tt AND the val join
    )
    cv = cvw.groupBy("a").agg(
        F.sum("c").cast("long").alias("cv"),
        F.count(F.lit(1)).cast("long").alias("n1v"),
    )
    cw = cvw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n1w"))
    tt = cvw.agg(F.count(F.lit(1)).cast("long").alias("t"))
    vp = (
        _pairs(d.filter((F.col("b") >= 80) & (F.col("b") < 90)))
        .groupBy("source", "a", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    num_seen = (
        F.greatest(4 * F.coalesce(F.col("c"), F.lit(0)) - 3, F.lit(0)).cast("long")
        * F.col("t")
        + 3 * F.col("n1v") * F.col("n1w")
    )
    lp = F.when(F.col("n1w").isNull(), F.lit(None).cast("long")).otherwise(
        F.when(
            F.col("cv").isNull(),
            F.round(
                F.log(F.col("n1w").cast("double") / F.col("t")) * 1000000
            ).cast("long"),
        ).otherwise(
            F.round(
                F.log(
                    num_seen.cast("double")
                    / (4 * F.col("cv") * F.col("t")).cast("double")
                )
                * 1000000
            ).cast("long")
        )
    )
    sc = (
        vp.join(cvw, ["a", "w"], "left")
        .join(cv, "a", "left")
        .join(cw, "w", "left")
        .crossJoin(F.broadcast(tt))
        .select(
            "source",
            "n",
            F.when(F.col("n1w").isNull(), 1).otherwise(0).alias("oov"),
            lp.alias("lp"),
        )
    )
    scored_n = F.sum(F.when(F.col("oov") == 0, F.col("n")).otherwise(0)).cast(
        "long"
    )
    neg_sum = -F.sum(
        F.when(F.col("oov") == 0, F.col("n") * F.col("lp")).otherwise(0)
    ).cast("long")
    return (
        sc.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_val_bigrams"),
            F.expr("(sum(oov * n) * 1000000) div sum(n)").alias("oov_ppm"),
            scored_n.alias("n_scored"),
            F.when(scored_n == 0, F.lit(None).cast("long"))
            .otherwise(F.expr(
                "(-sum(CASE WHEN oov = 0 THEN n * lp ELSE 0 END))"
                " div sum(CASE WHEN oov = 0 THEN n ELSE 0 END)"
            ))
            .alias("xent_micro_nats"),
        )
        .withColumn(
            "ppl",
            F.when(
                F.col("xent_micro_nats").isNotNull(),
                F.round(F.exp(F.col("xent_micro_nats") / 1000000.0), 4),
            ),
        )
        .orderBy("source")
    )


def _duck_ngram_dup(n: int) -> str:
    return f"""
    SELECT CAST({n} AS INTEGER) AS n,
           CAST(count(*) AS BIGINT) AS n_instances,
           CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
           CAST((count(*) - count(DISTINCT g)) * 1000000
                // count(*) AS BIGINT) AS dup_ppm
    FROM (
      SELECT array_to_string(arr[i:i + {n - 1}], ' ') AS g
      FROM toks, LATERAL (
        SELECT unnest(range(1, len(arr) - {n - 2})) AS i
      ) WHERE len(arr) >= {n}
    )"""


@query(
    "ngram_dup_rate_curve",
    oracle=f"""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS arr
      FROM documents
    )
    {' UNION ALL '.join(_duck_ngram_dup(n) for n in (1, 2, 4, 8))}
    ORDER BY n
    """,
)
def ngram_dup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DUPLICATION-RATE curve over n-gram order (n = 1, 2, 4, 8):
    what fraction of n-gram INSTANCES are repeats of an already-seen
    n-gram — the memorization-risk measurement behind choosing how
    aggressive span-level dedup must be (Lee et al. 2022's observation,
    as a curve: a corpus can be clean at the document grain and still
    95% duplicated at n=1 while dropping fast by n=8; the knee says
    which n the duplicate-span operators should key on). Exact
    integers: instance counts and distinct-type counts per order, dup
    share in floor ppm. Plan per order: one map-side n-gram projection
    (array slices joined in place — no UDF) into one count + one
    distinct aggregate at n-gram-TYPE grain (map-side combinable; the
    distinct's shuffle carries types, not instances). Four orders union
    a 4-row report."""
    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(tokenize("text").alias("arr")).localCheckpoint(
        eager=True
    )  # scanned once per order

    parts = []
    for n in (1, 2, 4, 8):
        grams = toks.filter(F.size("arr") >= n).select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(arr) - {n - 1}), "
                    f"i -> array_join(slice(arr, i, {n}), ' '))"
                )
            ).alias("g")
        )
        parts.append(
            grams.agg(
                F.count(F.lit(1)).cast("long").alias("n_instances"),
                F.countDistinct("g").cast("long").alias("n_distinct"),
            ).select(
                F.lit(n).alias("n"),
                "n_instances",
                "n_distinct",
                F.expr(
                    "((n_instances - n_distinct) * 1000000) div n_instances"
                ).alias("dup_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("n")


@query(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH d AS (
      SELECT lang,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                 t -> t <> '')) AS ws,
             len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS sw,
             length(text) AS ch
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS whitespace_tokens,
           CAST(sum(sw) AS BIGINT) AS subword_tokens,
           CAST(sum(ch) AS BIGINT) AS n_chars,
           CAST(sum(sw) * 1000 // sum(ws) AS BIGINT) AS fertility_milli,
           CAST(sum(ch) * 1000 // sum(sw) AS BIGINT)
             AS chars_per_subword_milli
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language: subword tokens per whitespace
    word and characters per subword token, per lang — the multilingual
    tokenizer-equity measurement (a language whose fertility is 2× pays
    2× the context budget and 2× the compute per sentence; the number
    that motivated byte-fallback and vocabulary rebalancing in
    multilingual models). Uses the repo's two attested token
    conventions (tokenize whitespace words; subword_token_count's
    word+punct BPE-ish regex with its documented DuckDB twin) plus char
    counts, all integer sums with milli-unit floor-division ratios.
    Map-only projections into one lang-grain aggregate — nothing here
    changes at 100 TB."""
    from pdf_brain_spark.functions.text import subword_token_count, token_count

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "lang",
        token_count("text").cast("long").alias("ws"),
        subword_token_count("text").cast("long").alias("sw"),
        F.length("text").cast("long").alias("ch"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("whitespace_tokens"),
            F.sum("sw").cast("long").alias("subword_tokens"),
            F.sum("ch").cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "whitespace_tokens",
            "subword_tokens",
            "n_chars",
            F.expr("(subword_tokens * 1000) div whitespace_tokens").alias(
                "fertility_milli"
            ),
            F.expr("(n_chars * 1000) div subword_tokens").alias(
                "chars_per_subword_milli"
            ),
        )
        .orderBy("lang")
    )


@query(
    "dedup_transitivity_audit",
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
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    csize AS (
      SELECT component, CAST(count(*) AS BIGINT) AS sz
      FROM comp GROUP BY 1
      HAVING count(*) BETWEEN 2 AND 12
    ),
    prs AS (
      SELECT c.sz, a.node AS doc_a, b.node AS doc_b
      FROM csize c
      JOIN comp a ON a.component = c.component
      JOIN comp b ON b.component = c.component AND a.node < b.node
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS i
      FROM prs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT p.sz,
             CAST(COALESCE(i.i, 0) * 1000000
                  // (za.n + zb.n - COALESCE(i.i, 0)) AS BIGINT) AS j_ppm
      FROM prs p
      JOIN sizes za ON za.doc_id = p.doc_a
      JOIN sizes zb ON zb.doc_id = p.doc_b
      LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(j_ppm) AS BIGINT) AS min_jaccard_ppm,
           CAST(sum(j_ppm) // count(*) AS BIGINT) AS mean_jaccard_ppm,
           CAST(sum(CASE WHEN j_ppm < 500000 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS weak_pair_ppm
    FROM jp GROUP BY sz ORDER BY cluster_size
    """,
)
def dedup_transitivity_audit(
    spark: SparkSession,
    sf_dir: str,
    max_cluster_size: int = 12,
    sample_pairs: int | None = None,
) -> DataFrame:
    """TRANSITIVITY audit of connected-component dedup: within each
    LSH duplicate cluster, the exact 3-gram Jaccard of EVERY intra-
    cluster pair — including the pairs LSH never proposed — rolled up
    per cluster size (min / mean Jaccard and the share of pairs below
    0.5). This measures the classic silent failure of component-based
    dedup: A~B and B~C candidates chain A and C into one cluster even
    when A and C share almost nothing, so min-id/keep-best collapses
    docs that are NOT duplicates of the kept representative. A falling
    min_jaccard_ppm as cluster_size grows is the hub-chaining
    signature; weak_pair_ppm is the fraction of merges a verify-then-
    cluster pipeline (dedup_minhash_verified) would have refused. The
    quadratic is BOUNDED: clusters up to `max_cluster_size` (gate
    default 12, ≤ C(12,2) = 66 pairs each) audit exhaustively; with
    `sample_pairs` set, BIGGER clusters are audited too, on a
    deterministic hash-drawn subset of ~sample_pairs intra-cluster
    pairs each (VERDICT r10 item 6 — the documented at-scale contract,
    now a real parameter; the registered gate keeps the exhaustive
    2..12 default, so its oracle is unchanged). All integers: exact
    shingle-set intersections via one candidate-grain join, ppm
    floor-divisions throughout."""
    from pdf_brain_spark.operators.dedup import (
        _lsh_pairs_from_signatures,
        _shingle_set_df,
        connected_components,
        minhash_signatures_from_sets,
    )

    docs = load_table(spark, "documents", sf_dir)
    sets = _shingle_set_df(docs, "doc_id", "text", 3).localCheckpoint(
        eager=True
    )  # ONE shingle pass, shared by the LSH banding below AND the audit
    # joins (ADVICE r10: minhash_lsh_pairs(docs) would recompute shingles
    # from the raw corpus; building candidates from the checkpointed sets
    # is the minhash_estimator_calibration device and output-identical —
    # minhash_signatures is defined as signatures_from_sets ∘ shingle_set)
    cands = _lsh_pairs_from_signatures(minhash_signatures_from_sets(sets))
    comps = connected_components(cands).select(
        F.col("node").alias("doc_id"), "component"
    )
    csize = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    if sample_pairs is None:
        csize = csize.filter(
            (F.col("sz") >= 2) & (F.col("sz") <= max_cluster_size)
        )
    else:
        csize = csize.filter(F.col("sz") >= 2)
    a = comps.join(csize, "component").select(
        "component", "sz", F.col("doc_id").alias("doc_a")
    )
    b = comps.select("component", F.col("doc_id").alias("doc_b"))
    prs = a.join(b, "component").filter(F.col("doc_a") < F.col("doc_b"))
    if sample_pairs is not None:
        # deterministic per-pair draw: keep a pair of an OVERSIZED
        # cluster iff its portable content-free hash lands under the
        # acceptance ceiling ceil(1e6 · sample_pairs / C(sz,2)) — exact
        # integers, so sample_pairs ≥ C(sz,2) degenerates to the
        # exhaustive path bit-for-bit (pytest-pinned); clusters at or
        # under max_cluster_size stay exhaustive
        ceiling = F.expr(
            f"({int(sample_pairs)} * 1000000 + sz * (sz - 1) div 2 - 1) "
            "div (sz * (sz - 1) div 2)"
        )
        draw = md5_long(Fragment("concat_ws('_', doc_a, doc_b)"), 8) % F.lit(1000000)
        prs = prs.filter(
            (F.col("sz") <= F.lit(max_cluster_size)) | (draw < ceiling)
        )
    za = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("_sa"))
    zb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    uni = (F.size("_sa") + F.size("_sb")).cast("long") - inter
    # r17 (profiled, guide §3.1): without the hint the planner BUILT the
    # broadcast from the shingle-SETS side (5k rows × ~300-string arrays
    # — a 0.8 s broadcast construction in the eventlog) and streamed the
    # bounded audit-pair list. prs is the provably small side (the audit
    # contract caps intra-cluster pairs); broadcasting it streams the
    # heavy set arrays map-side instead. Same join, same rows.
    jp = (
        F.broadcast(prs)
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "sz",
            inter.alias("_i"),
            uni.alias("_u"),
        )
        .select("sz", F.expr("(_i * 1000000) div _u").alias("j_ppm"))
    )
    return (
        jp.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("j_ppm").cast("long").alias("min_jaccard_ppm"),
            F.expr("sum(j_ppm) div count(1)").alias("mean_jaccard_ppm"),
            F.expr(
                "(sum(CASE WHEN j_ppm < 500000 THEN 1 ELSE 0 END) * 1000000)"
                " div count(1)"
            ).alias("weak_pair_ppm"),
        )
        .orderBy("cluster_size")
    )


@query(
    "events_dispersion_index",
    oracle="""
    WITH hourly0 AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) // 3600000000 AS ih,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(ih) AS lo, max(ih) AS hi FROM hourly0),
    axis AS (
      SELECT t.event_type, a.ih
      FROM (SELECT DISTINCT event_type FROM hourly0) t,
           (SELECT unnest(range(lo, hi + 1)) AS ih FROM bounds) a
    ),
    hourly AS (
      SELECT a.event_type, a.ih, COALESCE(h.c, 0) AS x
      FROM axis a LEFT JOIN hourly0 h
        ON h.event_type = a.event_type AND h.ih = a.ih
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s1,
             CAST(sum(x * x) AS HUGEINT) AS s2
      FROM hourly GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(s1 AS BIGINT) AS total_events,
           CAST(s1 * 1000 // n AS BIGINT) AS mean_per_hour_milli,
           CAST((n * s2 - s1 * s1) * 1000 // (n * s1) AS BIGINT)
             AS fano_milli
    FROM m WHERE s1 > 0 ORDER BY event_type
    """,
)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISPERSION INDEX (Fano factor, variance-to-mean ratio) of hourly
    event counts per event type — the burstiness measurement
    complementing events_autocorrelation's lag structure and the
    seasonality baseline: a Poisson arrival process has Fano = 1000
    milli exactly, clumped/bursty traffic is over-dispersed (> 1000),
    rate-limited or quota'd traffic under-dispersed (< 1000) — the
    number that decides whether capacity planning can use mean rates or
    must provision for bursts. The hour axis is DENSIFIED over the
    global [min, max] range (events_autocorrelation's device — zero
    hours are observations, dropping them biases the variance down),
    and the whole statistic is exact integer moments:
    Fano = (n·S2 − S1²)·1000 // (n·S1) in decimal-38/HUGEINT, one floor
    division per type, no float anywhere. Plan: one (type, hour)
    aggregate (map-side combinable), a broadcast bounds row, the
    bounded type×hour axis, one moment aggregate per type."""
    ev = load_table(spark, "events", sf_dir)
    hourly0 = (
        ev.select(
            "event_type",
            F.expr(
                "unix_micros(date_trunc('hour', ts)) div 3600000000"
            ).alias("ih"),
        )
        .groupBy("event_type", "ih")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # bounds + types + the join reuse it
    )
    bounds = hourly0.agg(
        F.min("ih").alias("lo"), F.max("ih").alias("hi")
    )
    types = hourly0.select("event_type").distinct()
    axis = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("ih"),
    )
    hourly = (
        axis.join(hourly0, ["event_type", "ih"], "left")
        .select(
            "event_type", F.coalesce(F.col("c"), F.lit(0)).alias("x")
        )
    )
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("s2"),
    )
    return (
        m.filter(F.col("s1") > 0)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_hours"),
            F.col("s1").cast("long").alias("total_events"),
            F.expr("cast((s1 * 1000) div n as long)").alias(
                "mean_per_hour_milli"
            ),
            F.expr(
                "cast(((n * s2 - s1 * s1) * 1000) div (n * s1) as long)"
            ).alias("fano_milli"),
        )
        .orderBy("event_type")
    )


