"""Gate definitions, round-8 registrations (second half): the round-9
rotation queue continued — time-series alignment, lifecycle/cohort,
basket/graph, tokenizer/corpus-planning, and robust-stats families.

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
from pdf_brain_spark.registry import (  # noqa: F401
    CONSOLIDATED,
    ORACLES,
    QUERIES,
    lookup_oracle,
    lookup_query,
    query,
)
from pdf_brain_spark.sources.loaders import load_table  # noqa: F401
from pdf_brain_spark.gates.replay import replayed_stream
from pdf_brain_spark.gates.core import FTS_QUERY_TERMS  # noqa: F401

@query(
    "events_lead_lag_correlation",
    oracle="""
    WITH cnt AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             count(*) AS c
      FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
    ),
    bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM cnt),
    axis AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    ),
    x AS (
      SELECT a.bucket, COALESCE(c.c, 0) AS x FROM axis a
      LEFT JOIN cnt c ON c.bucket = a.bucket AND c.event_type = 'click'
    ),
    y AS (
      SELECT a.bucket, COALESCE(c.c, 0) AS y FROM axis a
      LEFT JOIN cnt c ON c.bucket = a.bucket AND c.event_type = 'purchase'
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag),
    m AS (
      SELECT l.lag, count(*) AS n,
             sum(CAST(x.x AS HUGEINT)) AS sx, sum(CAST(y.y AS HUGEINT)) AS sy,
             sum(CAST(x.x AS HUGEINT) * x.x) AS sxx,
             sum(CAST(y.y AS HUGEINT) * y.y) AS syy,
             sum(CAST(x.x AS HUGEINT) * y.y) AS sxy
      FROM lags l
      JOIN x ON TRUE
      JOIN y ON y.bucket = x.bucket + l.lag * INTERVAL 1 HOUR
      GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag_hours, CAST(n AS BIGINT) AS n,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r
    FROM m ORDER BY lag_hours
    """,
)
def events_lead_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag Pearson cross-correlation between the click and purchase
    hourly series at lags −3..+3 — "do clicks lead purchases, and by how
    much?". Both series densify over the complete hour axis (missing
    hours are real zeros, not absent rows — correlation over a sparse
    join would silently condition on activity), the lag shift is exact
    timestamp arithmetic, and each lag's Pearson r comes from HUGEINT/
    decimal-38 moment sums with one final float expression. The axis is
    the bounded time grain, so the 7-lag fan-out is over hours, never
    events; NULL r when either series is constant on the overlap."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    cnt = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = cnt.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    axis = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    x = axis.join(
        cnt.filter(F.col("event_type") == "click").select(
            "bucket", F.col("c").alias("x")
        ),
        "bucket",
        "left",
    ).select("bucket", F.coalesce("x", F.lit(0)).alias("x"))
    y = axis.join(
        cnt.filter(F.col("event_type") == "purchase").select(
            "bucket", F.col("c").alias("y")
        ),
        "bucket",
        "left",
    ).select(
        F.col("bucket").alias("y_bucket"), F.coalesce("y", F.lit(0)).alias("y")
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = (
        F.broadcast(lags)
        .join(x, F.lit(True))
        .join(
            y,
            F.col("y_bucket")
            == F.col("bucket") + F.make_dt_interval(hours=F.col("lag")),
        )
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(yd).alias("sy"),
            F.sum(xd * xd).alias("sxx"),
            F.sum(yd * yd).alias("syy"),
            F.sum(xd * yd).alias("sxy"),
        )
    )
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return m.select(
        F.col("lag").cast("long").alias("lag_hours"),
        F.col("n").cast("long").alias("n"),
        F.when(
            (denx > 0) & (deny > 0),
            F.round(
                num
                / F.sqrt(denx.cast("double") * deny.cast("double")),
                6,
            ),
        ).alias("r"),
    ).orderBy("lag_hours")


@query(
    "nation_customer_gini",
    oracle="""
    WITH rev AS (
      SELECT n.n_name, o.o_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT n_name, cents,
             row_number() OVER (PARTITION BY n_name ORDER BY cents) AS i
      FROM rev
    ),
    agg AS (
      SELECT n_name, count(*) AS n, sum(CAST(cents AS HUGEINT)) AS sx,
             sum(CAST(i AS HUGEINT) * cents) AS six
      FROM ranked GROUP BY 1
    )
    SELECT n_name, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS total,
           CASE WHEN n * sx > 0 THEN
             round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                   / CAST(n * sx AS DOUBLE), 6) END AS gini
    FROM agg ORDER BY n_name
    """,
)
def nation_customer_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue within each nation — the
    inequality curve completing the concentration family (HHI: how few
    own it; Pareto: what the top slice owns; Gini: how unequal the whole
    distribution is). Revenue reduces to customer grain first; the
    rank-weighted sum is well-defined under ties (tied values contribute
    the same sum for any tie order) and accumulates in decimal-38/
    HUGEINT (operators/analytics.py::grouped_gini); the only float is
    one final division of exact integers."""
    from pdf_brain_spark.operators.analytics import grouped_gini

    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    rev = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    return grouped_gini(rev, "n_name", "cents").orderBy("n_name")


@query(
    "session_survival_curve",
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
    ),
    u AS (
      SELECT user_id, session_id, min(ts) AS f, max(ts) AS l
      FROM sessions GROUP BY 1, 2
    ),
    g AS (SELECT max(ts) AS mx FROM events),
    spans AS (
      SELECT (epoch_us(l) - epoch_us(f)) // 60000000 AS t,
             CASE WHEN l >= mx - INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS ev
      FROM u, g
    ),
    per_t AS (SELECT t, sum(ev) AS d, count(*) AS leaving FROM spans GROUP BY 1),
    tot AS (SELECT count(*) AS total FROM spans),
    risky AS (
      SELECT t, d, leaving,
             total - COALESCE(sum(leaving) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS at_risk
      FROM per_t, tot
    ),
    deaths AS (SELECT * FROM risky WHERE d > 0),
    lm AS (
      SELECT t, at_risk, d,
             CASE WHEN at_risk > d THEN
               CAST(round(ln(CAST(at_risk - d AS DOUBLE) / at_risk) * 1000000)
                    AS BIGINT) END AS lmv
      FROM deaths
    ),
    cum AS (
      SELECT t, at_risk, d,
             max(CASE WHEN lmv IS NULL THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zs,
             sum(COALESCE(lmv, 0))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM lm
    )
    SELECT CAST(t AS BIGINT) AS duration_min, CAST(at_risk AS BIGINT) AS at_risk,
           CAST(d AS BIGINT) AS deaths,
           CASE WHEN zs = 1 THEN 0.0
                ELSE round(exp(CAST(c AS DOUBLE) / 1000000.0), 6) END AS survival
    FROM cum ORDER BY duration_min
    """,
)
def session_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of session duration (minutes),
    right-censoring sessions that may still be open at the corpus edge
    (last event within one gap of max ts) — "what fraction of sessions
    survive past t minutes?", the duration analysis a plain average gets
    wrong under censoring. Sessions come from the shared 30-minute-gap
    kernel (operators/temporal.py::with_session_ids); the float product
    Π(1 − d/n) becomes an exact integer pipeline — each factor's ln
    rounds once to micro-nats, the product is a cumulative integer SUM
    over the bounded minute axis, one exp at the end
    (operators/temporal.py::kaplan_meier). Risk sets derive from
    reversed cumulative counts — never a per-subject rescan."""
    from pdf_brain_spark.operators.temporal import kaplan_meier, with_session_ids

    ev = load_table(spark, "events", sf_dir)
    sess = with_session_ids(ev)
    u = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    )
    g = ev.agg(F.max("ts").alias("mx"))
    spans = (
        u.crossJoin(F.broadcast(g))
        .select(
            F.unix_micros(F.col("f").cast("timestamp")).alias("fm"),
            F.unix_micros(F.col("l").cast("timestamp")).alias("lm"),
            F.when(
                F.col("l") >= F.col("mx") - F.expr("INTERVAL 30 MINUTE"), 0
            )
            .otherwise(1)
            .alias("ev"),
        )
        .select(F.expr("(lm - fm) DIV 60000000").alias("t"), "ev")
    )
    return (
        kaplan_meier(spans, "t", "ev")
        .select(
            F.col("t").cast("long").alias("duration_min"),
            "at_risk",
            "deaths",
            "survival",
        )
        .orderBy("duration_min")
    )


@query(
    "cohort_ltv_curves",
    oracle="""
    WITH o AS (
      SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS midx,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    firsts AS (SELECT o_custkey, min(midx) AS cohort_idx FROM o GROUP BY 1),
    sizes AS (SELECT cohort_idx, count(*) AS customers FROM firsts GROUP BY 1),
    aged AS (
      SELECT f.cohort_idx, o.midx - f.cohort_idx AS age_month,
             sum(o.cents) AS month_cents
      FROM o JOIN firsts f USING (o_custkey)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_idx, age_month, month_cents,
             sum(month_cents) OVER (
               PARTITION BY cohort_idx ORDER BY age_month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_cents
      FROM aged
    )
    SELECT CAST(c.cohort_idx AS BIGINT) AS cohort_idx,
           CAST(c.age_month AS BIGINT) AS age_month,
           CAST(s.customers AS BIGINT) AS customers,
           CAST(c.cum_cents AS BIGINT) AS cum_cents,
           CAST(c.cum_cents // s.customers AS BIGINT) AS ltv_cents_per_customer
    FROM cum c JOIN sizes s USING (cohort_idx)
    ORDER BY cohort_idx, age_month
    """,
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curves by acquisition cohort: customers
    grouped by first-order month, cumulative revenue tracked at each
    month of age — the LTV complement of the retention matrix (which
    counts users; this follows the money). Month indices are exact
    integers (y·12+m — no float month arithmetic), revenue is integer
    cents, per-customer LTV is integer floor division. Shape: customer-
    grain first-order aggregate, (cohort, age) aggregate, one window
    over the bounded age axis, broadcast cohort sizes."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("midx"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("midx").alias("cohort_idx"))
    sizes = firsts.groupBy("cohort_idx").agg(
        F.count(F.lit(1)).alias("customers")
    )
    aged = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_idx", (F.col("midx") - F.col("cohort_idx")).alias("age_month")
        )
        .agg(F.sum("cents").alias("month_cents"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("cohort_idx")
        .orderBy("age_month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = aged.withColumn("cum_cents", F.sum("month_cents").over(w))
    return (
        cum.join(F.broadcast(sizes), "cohort_idx")
        .select(
            F.col("cohort_idx").cast("long").alias("cohort_idx"),
            F.col("age_month").cast("long").alias("age_month"),
            F.col("customers").cast("long").alias("customers"),
            F.col("cum_cents").cast("long").alias("cum_cents"),
            F.expr("cum_cents DIV customers").alias("ltv_cents_per_customer"),
        )
        .orderBy("cohort_idx", "age_month")
    )


@query(
    "psi_drift_report",
    oracle="""
    WITH binned AS (
      SELECT doc_id % 2 AS side, n_chars // 64 AS bin FROM documents
    ),
    a AS (SELECT bin, count(*) AS na FROM binned WHERE side = 0 GROUP BY 1),
    b AS (SELECT bin, count(*) AS nb FROM binned WHERE side = 1 GROUP BY 1),
    t AS (
      SELECT (SELECT sum(na) FROM a) AS ta, (SELECT sum(nb) FROM b) AS tb
    ),
    joined AS (
      SELECT COALESCE(a.bin, b.bin) AS bin,
             COALESCE(a.na, 0) AS na, COALESCE(b.nb, 0) AS nb
      FROM a FULL OUTER JOIN b ON a.bin = b.bin
    )
    SELECT CAST(bin AS BIGINT) AS bin, CAST(na AS BIGINT) AS na,
           CAST(nb AS BIGINT) AS nb,
           CASE WHEN na > 0 AND nb > 0 THEN
             CAST(round((CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
                        * ln((CAST(na AS DOUBLE) * tb) / (CAST(nb AS DOUBLE) * ta))
                        * 1000000) AS BIGINT) END AS psi_term_micro,
           (na = 0 OR nb = 0) AS disjoint_bin
    FROM joined, t ORDER BY bin
    """,
)
def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between two corpus
    snapshots (portable doc_id-parity split as the before/after
    stand-in) over fixed-width doc-length bins — the standard
    distribution-drift monitor for features and corpus refreshes. Each
    bin's PSI term (pa − pb)·ln(pa/pb) is ONE float expression over
    four exact integers, rounded once to micro-nats; bins present on
    only one side are flagged (PSI is infinite there — flagging beats
    silently smoothing). One groupBy per side + a full outer join on
    the bounded bin axis."""
    docs = load_table(spark, "documents", sf_dir).select(
        (F.col("doc_id") % 2).alias("side"),
        F.expr("n_chars DIV 64").alias("bin"),
    )
    a = docs.filter(F.col("side") == 0).groupBy("bin").agg(
        F.count(F.lit(1)).alias("na")
    )
    b = docs.filter(F.col("side") == 1).groupBy("bin").agg(
        F.count(F.lit(1)).alias("nb")
    )
    t = a.agg(F.sum("na").alias("ta")).crossJoin(
        b.agg(F.sum("nb").alias("tb"))
    )
    joined = (
        a.join(b, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
        .crossJoin(F.broadcast(t))
    )
    term = (
        (
            F.col("na").cast("double") / F.col("ta")
            - F.col("nb").cast("double") / F.col("tb")
        )
        * F.log(
            (F.col("na").cast("double") * F.col("tb"))
            / (F.col("nb").cast("double") * F.col("ta"))
        )
        * 1000000
    )
    return joined.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0), F.round(term).cast("long")
        ).alias("psi_term_micro"),
        ((F.col("na") == 0) | (F.col("nb") == 0)).alias("disjoint_bin"),
    ).orderBy("bin")


@query(
    "source_term_jsd",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    np AS (SELECT source, term, count(*) AS np FROM toks GROUP BY 1, 2),
    ts AS (SELECT source, sum(np) AS t_s FROM np GROUP BY 1),
    nq AS (SELECT term, count(*) AS nq FROM toks GROUP BY 1),
    tq AS (SELECT sum(nq) AS t FROM nq),
    grid AS (
      SELECT s.source, v.term, s.t_s, v.nq, q.t, COALESCE(p.np, 0) AS np
      FROM ts s
      CROSS JOIN nq v
      CROSS JOIN tq q
      LEFT JOIN np p ON p.source = s.source AND p.term = v.term
    ),
    terms AS (
      SELECT source,
             CASE WHEN np > 0 THEN
               CAST(round((CAST(np AS DOUBLE) / t_s)
                          * ln((CAST(np AS DOUBLE) / t_s)
                               / ((CAST(np AS DOUBLE) / t_s + CAST(nq AS DOUBLE) / t) / 2.0))
                          * 1000000) AS BIGINT) ELSE 0 END AS kp_micro,
             CAST(round((CAST(nq AS DOUBLE) / t)
                        * ln((CAST(nq AS DOUBLE) / t)
                             / ((CAST(np AS DOUBLE) / t_s + CAST(nq AS DOUBLE) / t) / 2.0))
                        * 1000000) AS BIGINT) AS kq_micro
      FROM grid
    )
    SELECT source,
           CAST(sum(kp_micro) AS BIGINT) AS klp_micro,
           CAST(sum(kq_micro) AS BIGINT) AS klq_micro,
           CAST((sum(kp_micro) + sum(kq_micro)) // 2 AS BIGINT) AS jsd_micro_nats
    FROM terms GROUP BY 1 ORDER BY source
    """,
)
def source_term_jsd(
    spark: SparkSession, sf_dir: str, shared_counts: DataFrame | None = None
) -> DataFrame:
    """Jensen-Shannon divergence of each source's term distribution
    from the corpus distribution — the bounded, symmetric "how unusual
    is this source" divergence (0 = identical, ln 2 max), the
    categorical complement of the numeric PSI report. Each term's two
    KL contributions are single float expressions over exact counts,
    rounded once to micro-nats, then summed as integers — the
    established order-free log encoding. The grid is sources × corpus
    vocab (bounded), never corpus-sized; kq at np = 0 is finite and
    kept, kp at np = 0 is zero by definition."""
    from pdf_brain_spark.functions.text import tokenize

    # r16 A/B: spread_scan here measured +0.65 s (0.90→1.55 warm min;
    # worst of the family — both np/nq arms re-ran the exchange) —
    # reverted (tokenize-only chain; see OPTIMIZATION_r16.md).
    # r17: `shared_counts` (the suite_term_stats shared (source, term,
    # c) table) replaces BOTH tokenize arms — np is the table itself,
    # nq its term-grain re-aggregate (exact integer identities).
    if shared_counts is not None:
        np_ = shared_counts.select("source", "term", F.col("c").alias("np"))
        nq = shared_counts.groupBy("term").agg(F.sum("c").alias("nq"))
    else:
        docs = load_table(spark, "documents", sf_dir)
        toks = docs.select(
            "source", F.explode(tokenize("text")).alias("term")
        )
        np_ = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("np"))
        nq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("nq"))
    ts = np_.groupBy("source").agg(F.sum("np").alias("t_s"))
    # the exact vocab size rides the existing 1-row total aggregate for
    # free (nq is term grain) and feeds the broadcast tripwire below
    tq = nq.agg(
        F.sum("nq").alias("t"),
        F.count(F.lit(1)).alias("_n_types"),
    )
    grid = (
        ts.crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(tq))
        .join(F.broadcast(np_), ["source", "term"], "left")
        .select(
            "source", "term", "t_s", "nq", "t", "_n_types",
            F.coalesce("np", F.lit(0)).alias("np"),
        )
    )
    p = F.col("np").cast("double") / F.col("t_s")
    q = F.col("nq").cast("double") / F.col("t")
    m = (p + q) / F.lit(2.0)
    kp = F.when(
        F.col("np") > 0,
        F.round(p * F.log(p / m) * 1000000).cast("long"),
    ).otherwise(F.lit(0))
    # both force-broadcast tables here are vocabulary-grain (nq is |V|
    # rows; np_ is <= n_sources x |V|) — weld the Heaps-law tripwire
    # into the consumed KL term via the _n_types column the existing
    # tq crossJoin already carries (zero extra exchanges)
    from pdf_brain_spark.functions.guards import bounded_broadcast

    kq = bounded_broadcast(
        F.round(q * F.log(q / m) * 1000000).cast("long"),
        F.col("_n_types"),
        "source_term_jsd's broadcast term-distribution tables "
        "(vocab grain: nq = |V| rows, np_ <= n_sources x |V|)",
    )
    return (
        grid.select("source", kp.alias("kp_micro"), kq.alias("kq_micro"))
        .groupBy("source")
        .agg(
            F.sum("kp_micro").cast("long").alias("klp_micro"),
            F.sum("kq_micro").cast("long").alias("klq_micro"),
        )
        .select(
            "source",
            "klp_micro",
            "klq_micro",
            F.expr("(klp_micro + klq_micro) DIV 2").alias("jsd_micro_nats"),
        )
        .orderBy("source")
    )


@query(
    "part_name_merge_groups",
    oracle="""
    WITH RECURSIVE names AS (
      SELECT p_name AS name, count(*) AS n_rows FROM part GROUP BY 1
    ),
    pairs AS (
      SELECT a.name AS name_a, b.name AS name_b
      FROM names a JOIN names b ON a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 3
    ),
    edges AS (
      SELECT name_a AS src, name_b AS dst FROM pairs
      UNION
      SELECT name_b, name_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r
    ),
    comp AS (SELECT node, min(r) AS merge_group FROM reach GROUP BY node)
    SELECT c.node AS name, c.merge_group, CAST(n.n_rows AS BIGINT) AS n_rows
    FROM comp c JOIN names n ON n.name = c.node
    ORDER BY merge_group, name
    """,
)
def part_name_merge_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution merge groups: the fuzzy Levenshtein pairs
    (part_name_fuzzy_pairs) closed into connected components, each
    labeled by its lexicographically smallest member — the step that
    turns pairwise matches into mergeable entities. Reuses the dedup
    connected-components kernel (bounded union-find fast path /
    distributed min-label fallback, operators/dedup.py); the oracle
    re-derives components by recursive reachability closure over the
    bounded name domain. Each name carries the row count a merge would
    absorb."""
    from pdf_brain_spark.operators.dedup import (
        connected_components,
        fuzzy_domain_pairs,
    )

    part = load_table(spark, "part", sf_dir)
    pairs = fuzzy_domain_pairs(part, "p_name", max_dist=3)
    comp = connected_components(pairs, "name_a", "name_b")
    counts = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return (
        comp.select(F.col("node").alias("name"), F.col("component").alias("merge_group"))
        .join(F.broadcast(counts), "name")
        .orderBy("merge_group", "name")
    )


@query(
    "hits_hub_authority",
    oracle="""
    WITH e AS (
      SELECT o_orderkey AS src, o_orderkey // 2 AS dst
      FROM orders WHERE o_orderkey > 1 AND o_orderkey <= 1024
      GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
    a1r AS (SELECT e.dst AS node, sum(h0.h) AS raw FROM e JOIN h0 ON h0.node = e.src GROUP BY 1),
    a1m AS (SELECT max(raw) AS mx FROM a1r),
    a1 AS (SELECT n.node, CAST((COALESCE(r.raw, 0) * 1000000) // m.mx AS BIGINT) AS a
           FROM nodes n LEFT JOIN a1r r ON r.node = n.node, a1m m),
    h1r AS (SELECT e.src AS node, sum(a1.a) AS raw FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
    h1m AS (SELECT max(raw) AS mx FROM h1r),
    h1 AS (SELECT n.node, CAST((COALESCE(r.raw, 0) * 1000000) // m.mx AS BIGINT) AS h
           FROM nodes n LEFT JOIN h1r r ON r.node = n.node, h1m m),
    a2r AS (SELECT e.dst AS node, sum(h1.h) AS raw FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
    a2m AS (SELECT max(raw) AS mx FROM a2r),
    a2 AS (SELECT n.node, CAST((COALESCE(r.raw, 0) * 1000000) // m.mx AS BIGINT) AS a
           FROM nodes n LEFT JOIN a2r r ON r.node = n.node, a2m m),
    h2r AS (SELECT e.src AS node, sum(a2.a) AS raw FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
    h2m AS (SELECT max(raw) AS mx FROM h2r),
    h2 AS (SELECT n.node, CAST((COALESCE(r.raw, 0) * 1000000) // m.mx AS BIGINT) AS h
           FROM nodes n LEFT JOIN h2r r ON r.node = n.node, h2m m)
    SELECT a2.node, a2.a AS auth_micro, h2.h AS hub_micro
    FROM a2 JOIN h2 ON h2.node = a2.node
    ORDER BY auth_micro DESC, a2.node ASC LIMIT 20
    """,
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-iteration HITS hub/authority scores (Kleinberg 1999) over the
    implicit binary taxonomy tree — the link-analysis sibling of
    taxonomy_pagerank, sharing its oracle-ability trick: the recurrence
    is quantized to exact integer micro-units with max-normalization per
    half-step (operators/graph.py::hits_exact_int), so the oracle can
    unroll the identical integer iterations as CTEs and hash-match.
    Top-20 authorities with node tie-break."""
    from pdf_brain_spark.operators.graph import hits_exact_int

    orders = load_table(spark, "orders", sf_dir)
    edges = (
        orders.filter((F.col("o_orderkey") > 1) & (F.col("o_orderkey") <= 1024))
        .select(
            F.col("o_orderkey").alias("src"),
            F.floor(F.col("o_orderkey") / 2).cast("long").alias("dst"),
        )
        .distinct()
    )
    scores = hits_exact_int(edges, n_iter=2)
    return scores.orderBy(
        F.col("auth_micro").desc(), F.col("node").asc()
    ).limit(20)


@query(
    "ks_two_sample",
    oracle="""
    WITH s AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
    ),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM s),
    cum AS (
      SELECT cents,
             sum(ca) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
             sum(cb) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb
      FROM s
    )
    SELECT CAST(t.na AS BIGINT) AS n_click, CAST(t.nb AS BIGINT) AS n_purchase,
           CAST(c.cents AS BIGINT) AS cents_at_max,
           CAST(abs(c.cca * t.nb - c.ccb * t.na) * 1000000 // (t.na * t.nb) AS BIGINT) AS d_ppm
    FROM cum c, tot t
    ORDER BY abs(c.cca * t.nb - c.ccb * t.na) DESC, c.cents ASC
    LIMIT 1
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the click
    and purchase value distributions — the distribution-drift test that
    complements psi_drift_report's binned PSI. D is computed WITHOUT
    floats: at each distinct cent value, |cdf_a − cdf_b| is the integer
    |cumA·nB − cumB·nA| over the common denominator nA·nB, so the argmax
    and the ppm-quantized D are engine-exact. Plan: one value-grain
    count shuffle, then the STITCHED two-level scan over the
    DISTINCT-VALUE axis (operators/stitched.py, r12 — intra-bucket
    windows are distributed; only the domain/4096 bucket-carry frame is
    single-partition, guarded by name), and a 1-row TakeOrdered. The
    DuckDB oracle keeps the textbook global-window CDF, so the stitched
    scan is re-proven equal to it at every scale, every round."""
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("cb"),
    ).localCheckpoint(eager=True)  # totals + cumulative scan reuse it
    tot = s.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    cum = stitched_prefix_sums(
        s, "cents", ["ca", "cb"], what="KS distinct-cents axis"
    ).select(
        "cents",
        F.col("ca_cum").alias("cca"),
        F.col("cb_cum").alias("ccb"),
    )
    gap = F.abs(F.col("cca") * F.col("nb") - F.col("ccb") * F.col("na"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("na").cast("long").alias("n_click"),
            F.col("nb").cast("long").alias("n_purchase"),
            F.col("cents").alias("cents_at_max"),
            F.expr(
                "(abs(cca * nb - ccb * na) * 1000000) div (na * nb)"
            ).alias("d_ppm"),
            gap.alias("_gap"),
        )
        .orderBy(F.col("_gap").desc(), F.col("cents_at_max").asc())
        .limit(1)
        .drop("_gap")
    )


@query(
    "mann_whitney_u",
    oracle="""
    WITH s AS (
      SELECT n_chars AS v,
             sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
      FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT v, ca, cb,
             COALESCE(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
      FROM s
    ),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM s),
    rs AS (SELECT sum(ca * (2 * cprev + ca + cb + 1)) AS r2a FROM cum)
    SELECT CAST(t.na AS BIGINT) AS n_even, CAST(t.nb AS BIGINT) AS n_odd,
           CAST(r.r2a AS BIGINT) AS ranksum2_even,
           CAST(r.r2a - t.na * (t.na + 1) AS BIGINT) AS u2_even,
           CAST(2 * t.na * t.nb - (r.r2a - t.na * (t.na + 1)) AS BIGINT) AS u2_odd,
           round((CAST(r.r2a - t.na * (t.na + 1) AS DOUBLE) / 2 - CAST(t.na * t.nb AS DOUBLE) / 2)
                 / sqrt(CAST(t.na AS DOUBLE) * t.nb * (t.na + t.nb + 1) / 12.0), 6) AS z
    FROM tot t, rs r
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum U test between document-length samples (the
    even/odd doc_id halves — a balanced null split, so U should hover
    near nA·nB/2). All rank arithmetic is EXACT INTEGER at the doubled
    scale: tied values take midranks, and 2·midrank for a tie group
    spanning positions [p+1, p+c] is 2p+c+1 — computed from cumulative
    counts over the distinct-value axis, never per-row ranks. U doubles
    (u2_*) stay integers; the normal-approximation z (no tie
    correction, documented) is the one float, rounded to 6dp from exact
    integer moments. Identity u2_even + u2_odd = 2·nA·nB holds by
    construction. Plan: one value-grain count shuffle + the STITCHED
    two-level scan over the distinct-value axis (operators/stitched.py,
    r12 — the exclusive mid-rank prefix is the inclusive scan minus the
    current row; only the domain/4096 bucket-carry frame stays
    single-partition, guarded by name) + two 1-row aggregates. The
    DuckDB oracle keeps the textbook global-window form, so the
    stitched scan is re-proven equal to it at every scale, every
    round."""
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    docs = load_table(spark, "documents", sf_dir)
    s = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("cb"),
    ).localCheckpoint(eager=True)  # totals + rank scan reuse it
    cum = stitched_prefix_sums(
        s.withColumn("ct", F.col("ca") + F.col("cb")),
        "v",
        ["ct"],
        what="Mann-Whitney distinct-value axis",
    ).select(
        "ca",
        "cb",
        (F.col("ct_cum") - F.col("ct")).alias("cprev"),
    )
    tot = s.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    rs = cum.agg(
        F.sum(
            F.col("ca") * (2 * F.col("cprev") + F.col("ca") + F.col("cb") + 1)
        ).alias("r2a")
    )
    return (
        F.broadcast(tot)
        .crossJoin(rs)
        .select(
            F.col("na").cast("long").alias("n_even"),
            F.col("nb").cast("long").alias("n_odd"),
            F.col("r2a").cast("long").alias("ranksum2_even"),
            F.expr("r2a - na * (na + 1)").cast("long").alias("u2_even"),
            F.expr("2 * na * nb - (r2a - na * (na + 1))")
            .cast("long")
            .alias("u2_odd"),
            F.round(
                (
                    (F.col("r2a") - F.col("na") * (F.col("na") + 1)).cast(
                        "double"
                    )
                    / 2
                    - (F.col("na") * F.col("nb")).cast("double") / 2
                )
                / F.sqrt(
                    F.col("na").cast("double")
                    * F.col("nb")
                    * (F.col("na") + F.col("nb") + 1)
                    / 12.0
                ),
                6,
            ).alias("z"),
        )
    )


@query(
    "flesch_reading_ease",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(length(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS BIGINT) AS words,
             CAST(greatest(1, length(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS sentences,
             CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
      FROM documents
    )
    SELECT doc_id, words, sentences, syllables,
           CAST(206835 - (1015 * words) // sentences - (84600 * syllables) // words AS BIGINT) AS fre_milli
    FROM m WHERE words > 0
    ORDER BY doc_id LIMIT 200
    """,
)
def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scores in exact integer milli-units — the
    readability member of the text-quality battery (gopher_quality_rules
    gates on surface stats; this scores prose difficulty). Deterministic
    proxies, identical regexes on both engines: words = nonempty
    whitespace tokens, sentences = [.!?]+ runs (floored at 1),
    syllables = [aeiouy]+ vowel-group runs (a standard dictionary-free
    heuristic; vowel runs cannot span whitespace so the doc-level count
    equals the per-word sum). FRE = 206.835 − 1.015·(W/S) −
    84.6·(Syl/W), scaled ×1000 with the two ratios floor-divided —
    no float anywhere. Map-only over documents."""
    docs = load_table(spark, "documents", sf_dir)
    words = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit("")
        )
    ).cast("long")
    sentences = F.greatest(
        F.lit(1).cast("long"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))
        ).cast("long"),
    )
    syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    m = docs.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    )
    return (
        m.filter(F.col("words") > 0)
        .select(
            "doc_id",
            "words",
            "sentences",
            "syllables",
            (
                F.lit(206835)
                - F.expr("(1015 * words) div sentences")
                - F.expr("(84600 * syllables) div words")
            )
            .cast("long")
            .alias("fre_milli"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "time_decay_attribution",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_type, ts FROM events WHERE event_type <> 'purchase'
    ),
    pairs AS (
      SELECT c.conv_id, t.event_type,
             CAST(1000000 >> CAST((epoch_us(c.conv_ts) - epoch_us(t.ts)) // 86400000000 AS INT) AS BIGINT) AS w
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.ts <= c.conv_ts
       AND t.ts > c.conv_ts - INTERVAL 7 DAY
    ),
    persum AS (SELECT conv_id, sum(w) AS wsum FROM pairs GROUP BY 1)
    SELECT p.event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(p.w * 1000000 // s.wsum) AS BIGINT) AS credit_ppm
    FROM pairs p JOIN persum s USING (conv_id)
    GROUP BY 1 ORDER BY 1
    """,
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — the exponential-decay member
    of the attribution family (last-touch and U-shaped exist; this one
    weights every touch in the 7-day lookback by 2^(−age_days)). The
    decay is DYADIC on purpose: weight = 1000000 >> age_days is an exact
    integer bit-shift both engines compute identically, so per-
    conversion credit shares (w·1e6 // Σw, floor ppm) hash-match with no
    float half-life anywhere. Plan: one user-keyed range join (fan-out
    bounded by per-user 7-day activity), a conversion-grain sum, one
    channel-grain aggregate."""
    ev = load_table(spark, "events", sf_dir)
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "ts"
    )
    pairs = conv.join(
        touch,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("ts") <= F.col("conv_ts"))
        & (F.col("ts") > F.col("conv_ts") - F.expr("INTERVAL 7 DAY")),
    ).select(
        "conv_id",
        "event_type",
        F.expr(
            "shiftright(1000000, cast((unix_micros(conv_ts) - unix_micros(ts))"
            " div 86400000000 as int))"
        )
        .cast("long")
        .alias("w"),
    )
    from pyspark.sql import Window

    # per-conversion normalizer as a window over the SAME conv_id
    # partitioning, not a groupBy + self-join — one exchange of the pair
    # stream instead of two plus a join
    wc = Window.partitionBy("conv_id")
    return (
        pairs.withColumn("wsum", F.sum("w").over(wc))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum(F.expr("(w * 1000000) div wsum")).cast("long").alias("credit_ppm"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_incremental_regression",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM (SELECT event_type,
                   (epoch_us(ts) - 1704067200000000) // 3600000000 AS x,
                   CAST(round(value * 100) AS BIGINT) AS y
            FROM events)
      GROUP BY 1
    )
    SELECT event_type, n, sx, sy, sxy, sxx,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents_per_hour,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept_cents
    FROM m ORDER BY event_type
    """,
)
def streaming_incremental_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental MODEL FITTING — per-group OLS trend lines
    maintained as the partials store's first MOMENT-VECTOR monoid
    (streaming/events.py::make_regression_batch_fn): the five raw
    moments (n, Σx, Σy, Σxy, Σx²) are exact integer sums (x = hour
    offset from a fixed 2024-01-01 anchor, y = cents), so per-batch
    partials merge by elementwise addition and the served
    slope/intercept — one shared final-float closed form,
    regression_fit_exprs — is bit-identical to the one-shot fit the
    oracle computes over all events. Fitting without re-shuffling
    history: persisted state is 5 longs per (group, live generation).
    A real AvailableNow run per invocation."""
    from pdf_brain_spark.streaming.events import (
        read_regression,
        streaming_incremental_regression as drive_reg,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    with replayed_stream(spark, ev, F.col("event_id") % 2 == 0) as (stream, root):
        store = f"{root}/reg"
        drive_reg(spark, stream, store, f"{root}/ckpt").awaitTermination()
        return read_regression(spark, store).orderBy("event_type").localCheckpoint(eager=True)


@query(
    "streaming_incremental_bitmap",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT user_id // 64) AS BIGINT) AS n_words
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def streaming_incremental_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT incremental distinct counting — the bitmap
    complement of the KMV sketch (streaming/events.py::
    make_bitmap_batch_fn): dense integer keys pack into 64-bit words
    under bitwise OR (associative, commutative, idempotent), so however
    the stream or a compaction carved the data, Σ bit_count over the
    re-merged words IS the distinct count. The oracle is GROUND TRUTH
    (count(DISTINCT)), not a replay — the strongest oracle form: the
    monoid's exactness claim is verified against the thing it claims to
    equal. A real AvailableNow run per invocation; persisted state
    scales with occupied id-range/64 per group (roaring-style
    containers are the sparse-domain growth path)."""
    from pdf_brain_spark.streaming.events import (
        read_bitmap_distinct,
        streaming_incremental_bitmap as drive_bm,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "user_id"
    )
    with replayed_stream(spark, ev, F.col("event_id") % 2 == 0) as (stream, root):
        store = f"{root}/bm"
        drive_bm(spark, stream, store, f"{root}/ckpt").awaitTermination()
        return read_bitmap_distinct(spark, store).orderBy("event_type").localCheckpoint(eager=True)


@query(
    "bloom_semijoin_audit",
    oracle="""
    WITH buyers AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    ),
    i3 AS (SELECT unnest(range(0, 3)) AS i),
    pos AS (
      SELECT k,
             CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 4096 AS p
      FROM buyers, i3
    ),
    words AS (
      SELECT p // 32 AS word_idx,
             bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
      FROM pos GROUP BY 1
    ),
    probe AS (
      SELECT c.c_custkey AS k,
             CAST(concat('0x', substr(md5(CAST(c.c_custkey AS VARCHAR) || '#' || CAST(i3.i AS VARCHAR)), 1, 15)) AS BIGINT) % 4096 AS p
      FROM customer c, i3
    ),
    hits AS (
      SELECT pr.k,
             bool_and(w.bits IS NOT NULL
                      AND (w.bits & (1::BIGINT << CAST(pr.p % 32 AS INT))) <> 0) AS pass
      FROM probe pr LEFT JOIN words w ON w.word_idx = pr.p // 32
      GROUP BY pr.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(CASE WHEN h.pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN h.pass AND b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN NOT h.pass AND b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
    FROM hits h LEFT JOIN buyers b ON b.k = h.k
    """,
)
def bloom_semijoin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter semi-join with an exactness audit — the
    runtime-filter pattern Spark's optimizer injects implicitly
    (spark.sql.optimizer.runtime.bloomFilter.*), made first-class and
    oracle-able: a 4096-bit / 3-hash Bloom built over the build side's
    distinct keys (recent buyers), probed by every customer, then
    audited against the true semi-join. The filter is DETERMINISTIC —
    positions come from the portable md5 hash, words are 32-bit lanes
    in BIGINTs (bit 63 is engine-UB territory: DuckDB raises on 1<<63;
    32-bit lanes keep every shift safe on both engines) — so both
    engines build bit-identical filters and the false-positive count
    matches exactly, not statistically. The 4096-bit size is chosen so
    the FP path is genuinely exercised at the harness scales (measured
    0 / 78 / 6129 false positives at sf0.001/0.01/0.1 — the filter
    degrades honestly as the build side outgrows it, which is the
    behavior worth gating; a production build sizes m from the build-
    side count). n_missed is structurally 0 (Bloom filters have no
    false negatives); the gate proves it. Plan:
    build = one tiny shuffle to 128 words, broadcast everywhere; probe
    = map-only + broadcast join — the shape that turns a 100 TB
    shuffled semi-join into a scan-side filter."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    buyers = (
        orders.filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        # the word build and the truth join both read it — one scan
        .localCheckpoint(eager=True)
    )
    i3 = spark.range(3).select(F.col("id").cast("int").alias("i"))

    def positions(df):
        return df.crossJoin(F.broadcast(i3)).select(
            "k",
            (
                md5_long(Fragment("concat(CAST(k AS STRING), '#', CAST(i AS STRING))"))
                % 4096
            ).alias("p"),
        )

    words = (
        positions(buyers)
        .groupBy(F.expr("p div 32").alias("word_idx"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").alias("bits"))
    )
    probe = positions(cust.select(F.col("c_custkey").alias("k")))
    hits = (
        probe.withColumn("word_idx", F.expr("p div 32"))
        .join(F.broadcast(words), "word_idx", "left")
        .groupBy("k")
        .agg(
            F.expr(
                "bool_and(bits IS NOT NULL AND (bits & shiftleft(1L, cast(p % 32 as int))) <> 0)"
            ).alias("pass")
        )
    )
    truth = buyers.withColumn("is_true", F.lit(1))
    return (
        hits.join(F.broadcast(truth), "k", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probed"),
            F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long").alias("n_pass"),
            F.sum(F.when(F.col("is_true").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_true"),
            F.sum(
                F.when(F.col("pass") & F.col("is_true").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
            F.sum(
                F.when(~F.col("pass") & F.col("is_true").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_missed"),
        )
    )


@query(
    "seasonal_decompose_ma",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    axis AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
    ),
    dense AS (
      SELECT a.day, COALESCE(d.cents, 0) AS cents
      FROM axis a LEFT JOIN daily d ON d.day = a.day
    ),
    win AS (
      SELECT day, cents,
             sum(cents) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w7,
             count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
      FROM dense
    ),
    trend AS (
      SELECT day, cents,
             CAST((w7 * 1000) // 7 AS BIGINT) AS trend_milli,
             CAST(cents * 1000 - (w7 * 1000) // 7 AS BIGINT) AS dev_milli
      FROM win WHERE c7 = 7
    ),
    season AS (
      SELECT day, cents, trend_milli, dev_milli,
             CAST(sum(dev_milli) OVER (PARTITION BY dayofweek(day))
                  // count(*) OVER (PARTITION BY dayofweek(day)) AS BIGINT) AS seasonal_milli
      FROM trend
    )
    SELECT day, CAST(cents AS BIGINT) AS cents, trend_milli, seasonal_milli,
           CAST(dev_milli - seasonal_milli AS BIGINT) AS resid_milli
    FROM season ORDER BY day LIMIT 400
    """,
)
def seasonal_decompose_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series: trend = centered 7-day moving average (full windows only),
    weekly seasonal = per-day-of-week mean of the detrended series,
    residual = the rest. Every component is exact integer milli-cents —
    the MA and the seasonal mean are integer divisions (both engines
    truncate toward zero, verified: DuckDB's // on integers matches
    Spark's div even for the negative detrended values), so the
    decomposition hash-matches with no float policy at all. The axis
    densifies first (missing days are real zero-revenue days, as in
    events_lead_lag_correlation). Plan: one day-grain aggregate, one
    window over the bounded calendar axis, one dow-partition window —
    no per-order work after the first shuffle. The dow partition uses
    the day value itself, so no engine dow-convention bridge is
    needed."""
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    ).localCheckpoint(eager=True)  # bounds + the dense join reuse it
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    axis = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    dense = axis.join(daily, "day", "left").select(
        "day", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    win = dense.select(
        "day",
        "cents",
        bounded_axis(
            F.sum("cents").over(w7),
            ["day"],
            "seasonal-decomposition day axis",
            safe_alternative="partition the moving average by series/year and "
            "stitch the 3-day seams",
        ).alias("w7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    trend = win.filter(F.col("c7") == 7).select(
        "day",
        "cents",
        F.expr("(w7 * 1000) div 7").cast("long").alias("trend_milli"),
        F.expr("cents * 1000 - (w7 * 1000) div 7").cast("long").alias("dev_milli"),
    )
    wd = Window.partitionBy(F.dayofweek("day"))
    season = trend.select(
        "day",
        "cents",
        "trend_milli",
        "dev_milli",
        (F.sum("dev_milli").over(wd))
        .cast("long")
        .alias("_dev_sum"),
        F.count(F.lit(1)).over(wd).alias("_dow_n"),
    ).select(
        "day",
        "cents",
        "trend_milli",
        "dev_milli",
        F.expr("_dev_sum div _dow_n").cast("long").alias("seasonal_milli"),
    )
    return season.select(
        "day",
        F.col("cents").cast("long").alias("cents"),
        "trend_milli",
        "seasonal_milli",
        (F.col("dev_milli") - F.col("seasonal_milli")).cast("long").alias("resid_milli"),
    ).orderBy("day").limit(400)


@query(
    "multimodal_frame_decode",
    oracle="""
    WITH vids AS (
      SELECT CAST(doc_id AS VARCHAR) AS asset_id, COALESCE(text, '') AS t,
             len(COALESCE(text, '')) * 10 AS duration_ms
      FROM documents WHERE doc_id < 40
    ),
    frames AS (
      SELECT asset_id, t,
             unnest(range(0, greatest(duration_ms - 1, 0) + 1, 250)) AS ts_ms
      FROM vids
    )
    SELECT asset_id, CAST(ts_ms AS BIGINT) AS frame_ts_ms,
           CAST((ts_ms * 100) // 1000 AS INT) AS start_c,
           CAST(len(substr(t, CAST((ts_ms * 100) // 1000 + 1 AS INT), 10)) AS INT) AS n_chars,
           md5(substr(t, CAST((ts_ms * 100) // 1000 + 1 AS INT), 10)) AS frame_md5
    FROM frames ORDER BY asset_id, frame_ts_ms
    """,
)
def multimodal_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling DECODE (the fourth multimodal gate,
    completing the video path: multimodal_frame_plan built the
    timeline; this consumes it): explode each asset into sampled frame
    timestamps, join the payload back at asset grain, then an
    Arrow-batched per-frame slice kernel
    (operators/multimodal.py::decode_sampled_frames) whose md5 digests
    byte-certify every cut against the oracle's substr replay — a
    ms→char rate-conversion off-by-one or a dropped tail frame flips
    the hash. Chars stand in for the byte stream at 100 chars/sec (the
    av/ffmpeg decode is the stubbed seam). Explode-before-decode keeps
    100 TB parallelism per-frame, not per-video."""
    from pdf_brain_spark.operators.multimodal import decode_sampled_frames

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 40)
    txt = F.coalesce(F.col("text"), F.lit(""))
    media = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("video").alias("kind"),
        F.encode(txt, "utf-8").alias("content"),
        F.struct(
            F.lit("video/fake").alias("mime"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            (F.length(txt) * 10).cast("long").alias("duration_ms"),
            F.lit(0).alias("sample_rate"),
        ).alias("meta"),
    )
    return decode_sampled_frames(
        media, every_ms=250, frame_chars=10, chars_per_sec=100
    ).orderBy("asset_id", "frame_ts_ms")


@query("bm25f_search", oracle=None)  # oracle registered below via duck_bm25f_sql
def bm25f_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field BM25F top-10 (Zaragoza et al., CIKM 2004) — field-
    weighted retrieval where a title hit outranks the same hit buried in
    a long body: per-field soft length normalization, fields combined
    into ONE weighted pseudo-frequency, saturation applied once to the
    combination (operators/fts.py::bm25f_scores — the docstring explains
    why per-field BM25 sums get this wrong). Fields are synthetic
    (first 5 tokens = title) since the corpus is single-column; the
    algebra, float op order, and oracle twin are the real thing."""
    from pdf_brain_spark.operators.fts import bm25f_scores

    docs = load_table(spark, "documents", sf_dir)
    res = bm25f_scores(docs, FTS_QUERY_TERMS, k=10)
    return res.select("doc_id", F.round("bm25f", 6).alias("bm25f"), "terms_matched")


def _register_bm25f_oracle() -> None:
    from pdf_brain_spark.operators.fts import duck_bm25f_sql

    ORACLES["bm25f_search"] = duck_bm25f_sql(FTS_QUERY_TERMS, k=10)


_register_bm25f_oracle()


@query(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             ((b.cents - a.cents) * 1000000) // (b.d - a.d) AS slope_micro
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d
    ),
    ranked AS (
      SELECT event_type, slope_micro,
             row_number() OVER (PARTITION BY event_type ORDER BY slope_micro) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM pairs
    ),
    days AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
    SELECT r.event_type, CAST(d.n_days AS BIGINT) AS n_days,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           CAST(r.slope_micro AS BIGINT) AS ts_slope_micro
    FROM ranked r JOIN days d ON d.event_type = r.event_type
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY r.event_type
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type — the median of all
    pairwise day-to-day slopes of the daily revenue series, the
    outlier-resistant alternative to the OLS slope
    (streaming_incremental_regression fits; this one survives a 30%
    contamination). The pair fan-out is over the bounded DAY axis
    (30 days → 435 pairs/group), never the event stream — the property
    that keeps the classic O(n²) estimator viable at 100 TB: aggregate
    to the calendar grain first, go quadratic only on the axis. Slopes
    quantize to exact integer micro-cents/day (both engines truncate
    integer division identically, negative slopes included); the median
    is the lower-median rank selection, exact by construction."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    # both self-join arms and the day count reuse this bounded calendar
    # frame — materialize so the event scan runs once
    daily = daily.localCheckpoint(eager=True)
    a = daily.select("event_type", F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(
        F.col("event_type").alias("et_b"), F.col("d").alias("db"), F.col("cents").alias("cb")
    )
    pairs = a.join(
        b, (F.col("et_b") == F.col("event_type")) & (F.col("db") > F.col("da"))
    ).select(
        "event_type",
        F.expr("((cb - ca) * 1000000) div (db - da)").alias("slope_micro"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_micro")
    wc = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope_micro",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_pairs"),
    )
    days = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        ranked.filter(F.expr("rn = (n_pairs + 1) div 2"))
        .join(F.broadcast(days), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope_micro").cast("long").alias("ts_slope_micro"),
        )
        .orderBy("event_type")
    )


@query(
    "zipf_fit_report",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    freq AS (SELECT term, count(*) AS f FROM toks GROUP BY 1),
    ranked AS (
      SELECT term, f, row_number() OVER (ORDER BY f DESC, term ASC) AS r
      FROM freq
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM ranked WHERE r <= 200
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_terms,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS zipf_intercept
    FROM m
    """,
)
def zipf_fit_report(
    spark: SparkSession, sf_dir: str, shared_counts: DataFrame | None = None
) -> DataFrame:
    """Zipf's-law fit over the corpus rank-frequency curve: log-log OLS
    slope across the top-200 terms (natural text sits near −1; a
    synthetic or templated corpus shows up immediately as a flat
    slope — a cheap corpus-authenticity diagnostic for training-data
    QA). Log coordinates quantize ONCE to integer micro-nats per
    (rank, freq) point, the OLS moments are exact integer sums, and
    the closed form is one final float expression — the same
    determinism playbook as the streaming regression monoid. One
    term-count shuffle + a 200-row tail; rank ties break by term."""
    from pdf_brain_spark.functions.text import tokenize
    from pyspark.sql import Window

    # r16 A/B: spread_scan here measured +0.21 s (0.58→0.79 warm min) —
    # reverted (tokenize-only chain; see OPTIMIZATION_r16.md).
    # r17: `shared_counts` (suite_term_stats shared (source, term, c))
    # folds to the corpus term frequency by an exact integer sum.
    if shared_counts is not None:
        freq = shared_counts.groupBy("term").agg(F.sum("c").alias("f"))
    else:
        docs = load_table(spark, "documents", sf_dir)
        freq = (
            docs.select(F.explode(tokenize("text")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("f"))
        )
    w = Window.orderBy(F.col("f").desc(), F.col("term").asc())
    pts = (
        freq.select(
            "term",
            "f",
            bounded_axis(
                F.row_number().over(w),
                [F.col("f").desc(), F.col("term").asc()],
                "Zipf vocabulary axis",
                safe_alternative="take the top-200 via TakeOrdered "
                "(orderBy+limit) instead of a total-order rank window",
            ).alias("r"),
        )
        .filter(F.col("r") <= 200)
        .select(
            F.round(F.log(F.col("r").cast("double")) * 1_000_000)
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("f").cast("double")) * 1_000_000)
            .cast("long")
            .alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    from pdf_brain_spark.streaming.events import regression_fit_exprs

    slope, intercept = regression_fit_exprs("zipf_slope", "zipf_intercept")
    return m.select(F.col("n").alias("n_terms"), slope, intercept)


@query(
    "chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, hour(ts) // 6 AS pod, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rows_ AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
    cols_ AS (SELECT pod, sum(o) AS c FROM cells GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM cells),
    contrib AS (
      SELECT CAST(round(
               (CAST(t.n * ce.o - r.r * c.c AS DOUBLE)
                * CAST(t.n * ce.o - r.r * c.c AS DOUBLE))
               / CAST(t.n * r.r * c.c AS DOUBLE) * 1000000.0
             ) AS BIGINT) AS contrib_micro
      FROM cells ce
      JOIN rows_ r ON r.event_type = ce.event_type
      JOIN cols_ c ON c.pod = ce.pod, tot t
    ),
    dims AS (
      SELECT (SELECT count(*) FROM rows_) AS nr, (SELECT count(*) FROM cols_) AS nc
    )
    SELECT CAST(t.n AS BIGINT) AS n_events,
           CAST(d.nr * d.nc AS BIGINT) AS n_cells,
           CAST((d.nr - 1) * (d.nc - 1) AS BIGINT) AS dof,
           CAST((SELECT sum(contrib_micro) FROM contrib) AS BIGINT) AS chi2_micro
    FROM tot t, dims d
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    part-of-day (four 6-hour buckets) — "does traffic mix shift across
    the day?", the categorical complement of ks_two_sample. Each cell's
    statistic uses the all-integer identity (O − rc/n)²/(rc/n) =
    (nO − rc)²/(n·rc): the cross terms stay exact int64 (square taken
    in double AFTER the exact subtraction — |nO − rc| < 2^32 here, so
    the square is correctly rounded), each cell quantizes ONCE to
    integer micro-units, and the 20-cell sum is integer — engine
    summation order cannot move the statistic. Two tiny aggregates +
    broadcast margins; the contingency table is bounded by the
    category grid, never the event count."""
    ev = load_table(spark, "events", sf_dir)
    cells = ev.groupBy(
        "event_type", F.expr("hour(ts) div 6").alias("pod")
    ).agg(F.count(F.lit(1)).alias("o"))
    # the margins, total, and dims all derive from this bounded grid —
    # materialize it once so the event scan runs ONCE, not four times
    cells = cells.localCheckpoint(eager=True)
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_ = cells.groupBy("pod").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    contrib = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "pod")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (
                    (F.col("n") * F.col("o") - F.col("r") * F.col("c")).cast("double")
                    * (F.col("n") * F.col("o") - F.col("r") * F.col("c")).cast("double")
                )
                / (F.col("n") * F.col("r") * F.col("c")).cast("double")
                * 1000000.0
            )
            .cast("long")
            .alias("contrib_micro")
        )
    )
    chi2 = contrib.agg(F.sum("contrib_micro").cast("long").alias("chi2_micro"))
    dims = rows_.agg(F.count(F.lit(1)).alias("nr")).crossJoin(
        cols_.agg(F.count(F.lit(1)).alias("nc"))
    )
    return (
        tot.crossJoin(dims)
        .crossJoin(chi2)
        .select(
            F.col("n").cast("long").alias("n_events"),
            (F.col("nr") * F.col("nc")).cast("long").alias("n_cells"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            "chi2_micro",
        )
    )


@query(
    "streaming_late_data_drop",
    oracle="""
    WITH v AS (SELECT event_id FROM events ORDER BY ts, event_id LIMIT 1),
    ev AS (SELECT * FROM events WHERE event_id <> (SELECT event_id FROM v)),
    m AS (SELECT max(ts) AS max_ts FROM ev)
    SELECT event_type,
           time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM ev, m
    GROUP BY event_type, time_bucket(INTERVAL 1 HOUR, ts), max_ts
    HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
           <= max_ts - INTERVAL 2 HOUR
    """,
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, actually exercised (§2.10):
    streaming_tumbling_window proves the window-closure rule on a
    single batch, where no row is ever late; this gate stages THREE
    micro-batches — batch 1 is every event except two chosen rows,
    batch 2 is the corpus's LATEST row (fresh, absorbed), batch 3 is
    the corpus's EARLIEST row (late by a month, beyond the 2h
    watermark) — and the engine MUST drop batch 3's victim from state
    (verified: numRowsDroppedByWatermark=1 in the state-operator
    metrics when this gate was built). The oracle computes the closed
    windows over all events MINUS the victim: parity holds only if the
    drop really happened — an engine that absorbed the late row counts
    one extra in the victim's window and the hash flips.

    Empirical Spark semantics this gate encodes (measured on 4.x, the
    reason it stages THREE batches, not two): the watermark visible to
    the stateful operator lags the offset log by ONE batch — a late row
    arriving in the very next micro-batch after the watermark-advancing
    data is still absorbed; arriving two batches later, it is dropped.
    The fresh batch-2 row exists purely to advance the operator past
    that lag without changing max event time. Batch order is pinned by
    backdating file mtimes (the file source orders by modification
    time; same play as the time-travel gate)."""
    import os as _os
    import shutil
    import tempfile
    import uuid

    from pdf_brain_spark.streaming.events import windowed_event_counts

    ev = load_table(spark, "events", sf_dir)
    victim = (
        ev.orderBy("ts", "event_id").select("event_id").limit(1).collect()[0][0]
    )
    fresh = (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .select("event_id")
        .limit(1)
        .collect()[0][0]
    )
    root = tempfile.mkdtemp(prefix="sgraft_late_")
    b1, b2, b3 = f"{root}/b1", f"{root}/b2", f"{root}/b3"
    qname = "stream_late_" + uuid.uuid4().hex[:8]
    ckpt = f"{root}/ckpt"
    try:
        ev.filter(~F.col("event_id").isin(victim, fresh)).coalesce(1).write.parquet(b1)
        ev.filter(F.col("event_id") == fresh).coalesce(1).write.parquet(b2)
        ev.filter(F.col("event_id") == victim).coalesce(1).write.parquet(b3)
        # pin processing order: the file source sorts by mtime
        for d, back in ((b1, 240), (b2, 120), (b3, 0)):
            for f_ in _os.listdir(d):
                p = _os.path.join(d, f_)
                st = _os.stat(p)
                _os.utime(p, (st.st_atime, st.st_mtime - back))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(root + "/b*")
        )
        q = (
            windowed_event_counts(stream)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
        if dropped != 1:
            raise AssertionError(
                f"late-data gate expected exactly 1 watermark-dropped row, saw {dropped}"
            )
        return (
            spark.table(qname)
            .select(
                "event_type",
                "window_start",
                "n_events",
                F.round("total_value", 4).alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "source_contamination_matrix",
    oracle="""
    WITH toks AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(tokens) - 1, 1)),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))) AS shingle
      FROM toks
    ),
    sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
      FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, CAST(p.shared AS BIGINT) AS shared,
           CAST(sa.n AS BIGINT) AS size_a, CAST(sb.n AS BIGINT) AS size_b,
           CAST(p.shared * 1000000 // least(sa.n, sb.n) AS BIGINT) AS overlap_ppm
    FROM pairs p
    JOIN sizes sa ON sa.source = p.src_a
    JOIN sizes sb ON sb.source = p.src_b
    ORDER BY overlap_ppm DESC, src_a, src_b LIMIT 50
    """,
)
def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-SOURCE contamination matrix — which corpus slices
    share verbatim 3-gram shingles, and how much (overlap ppm over the
    smaller side's shingle set). benchmark_contamination answers "does
    train touch THIS eval set"; the matrix answers the curation-time
    question "which of my N sources are copying each other", the input
    to mixture dedup decisions. Plan: shingle membership collapses to
    SOURCE grain first (distinct per source), so the inverted-index
    join's fan-out per shingle is bounded by the SOURCE universe (≤
    C(N,2) pair emissions per shingle, never doc²) — at 100 TB with
    thousands of sources, cap the per-shingle source list exactly like
    dedup.SHINGLE_DF_CAP caps docs. One shingle-grain shuffle, one
    pair-grain aggregate."""
    from pdf_brain_spark.functions.guards import spread_scan
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    # r16: spread the single-task scan ahead of the shingle chain
    # (guide §2.5; exact-integer counts, partitioning-insensitive)
    docs = spread_scan(load_table(spark, "documents", sf_dir), "doc_id")
    sh = (
        docs.select(
            "source", F.explode(shingles(tokenize_sql("text"), 3)).alias("shingle")
        )
        .distinct()
        # sizes and BOTH join arms reuse the shingle membership —
        # materialize once so the corpus tokenizes once, not three times
        # (the unigram_perplexity_filter precedent)
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("source").alias("src_a"), "shingle")
    b = sh.select(F.col("source").alias("src_b"), F.col("shingle").alias("sh_b"))
    pairs = (
        a.join(b, (F.col("sh_b") == F.col("shingle")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("size_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("size_b"))
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("shared").cast("long").alias("shared"),
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            F.expr("(shared * 1000000) div least(size_a, size_b)").alias("overlap_ppm"),
        )
        .orderBy(F.col("overlap_ppm").desc(), "src_a", "src_b")
        .limit(50)
    )


@query(
    "multimodal_audio_resample",
    oracle="""
    WITH auds AS (
      SELECT CAST(doc_id AS VARCHAR) AS asset_id, text AS t, len(text) AS n
      FROM documents WHERE doc_id < 40 AND len(COALESCE(text, '')) > 0
    )
    SELECT asset_id, CAST(n AS INT) AS n_in,
           array_to_string(list_transform(range(0, 16), k -> t[(k * n) // 16 + 1]), '') AS resampled,
           md5(array_to_string(list_transform(range(0, 16), k -> t[(k * n) // 16 + 1]), '')) AS resampled_md5
    FROM auds ORDER BY asset_id
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor RESAMPLE plumbing (the fifth multimodal gate,
    completing decode / features / windows / frames with the
    resize/downsample member): each asset's char stream resamples to a
    fixed 16 samples via the index map k·n // 16, run as an
    Arrow-batched mapInPandas kernel (operators/multimodal.py::
    resample_assets) whose output string AND md5 the oracle re-derives
    by substr replay — certifying the exact index arithmetic (the
    ceil-vs-floor and 0-vs-1-based bugs real resamplers have). Map-only;
    real mode swaps the char gather for pixel/PCM reads."""
    from pdf_brain_spark.operators.multimodal import resample_assets

    docs = load_table(spark, "documents", sf_dir).filter(
        (F.col("doc_id") < 40) & (F.length(F.coalesce(F.col("text"), F.lit(""))) > 0)
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("audio").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    return resample_assets(media, n_out=16).orderBy("asset_id")


@query(
    "label_propagation_communities",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    e0 AS (
      SELECT a.brand AS u, b.brand AS v FROM li a JOIN li b
      ON b.ok = a.ok AND a.brand < b.brand GROUP BY 1, 2
    ),
    edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    v1 AS (
      SELECT e.u AS node, l0.lbl, count(*) AS cnt
      FROM edges e JOIN l0 ON l0.node = e.v GROUP BY 1, 2
    ),
    l1 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
        FROM v1
      ) WHERE rn = 1
    ),
    v2 AS (
      SELECT e.u AS node, l1.lbl, count(*) AS cnt
      FROM edges e JOIN l1 ON l1.node = e.v GROUP BY 1, 2
    ),
    l2 AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
        FROM v2
      ) WHERE rn = 1
    )
    SELECT node, lbl AS community FROM l2 ORDER BY node
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-iteration synchronous label propagation (Raghavan et al.
    2007) over the brand co-purchase graph — community detection as the
    fourth graph-algorithm family member (components, PageRank, HITS,
    now LPA). Made deterministic — the famous LPA pathology is tie
    randomness — by the fixed iteration count and an explicit tie rule
    (max neighbor-label count, then lexicographically smallest label),
    so the oracle can unroll the identical iterations. Plan per
    iteration: one gather shuffle (edge ⋈ labels, map-side-combinable
    count) + one per-node argmax window over the bounded per-node label
    set; the co-purchase projection is DISTINCT-before-join, bounded by
    the brand universe (operators/graph.py::cooccurrence_edges
    argument)."""
    from pdf_brain_spark.operators.graph import label_propagation_exact

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
        # both self-join arms reuse the membership — materialize so the
        # fact scans ONCE (self-review: the unchecked build scanned it 4x)
        .localCheckpoint(eager=True)
    )
    a = m.select("ok", F.col("brand").alias("u"))
    b = m.select(F.col("ok").alias("ok_b"), F.col("brand").alias("v"))
    e0 = (
        a.join(b, (F.col("ok_b") == F.col("ok")) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)  # the symmetric union reads it twice
    )
    edges = e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    labels = label_propagation_exact(edges, n_iter=2)
    return labels.select("node", F.col("lbl").alias("community")).orderBy("node")


@query(
    "stratified_kfold_report",
    oracle="""
    WITH folds AS (
      SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS fold,
             source
      FROM documents
    ),
    cells AS (SELECT fold, source, count(*) AS n FROM folds GROUP BY 1, 2),
    tots AS (SELECT fold, sum(n) AS fold_total FROM cells GROUP BY 1)
    SELECT c.fold, c.source, CAST(c.n AS BIGINT) AS n,
           CAST(t.fold_total AS BIGINT) AS fold_total,
           CAST(c.n * 1000000 // t.fold_total AS BIGINT) AS share_ppm
    FROM cells c JOIN tots t ON t.fold = c.fold
    ORDER BY c.fold, c.source
    """,
)
def stratified_kfold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment + balance audit: folds come
    from the portable content-free hash (the train_val_test_split
    mechanism, k=5), and the report shows each source's share of every
    fold in exact ppm — the balance check that tells you whether
    hash-stratification actually balanced the strata (it converges by
    the law of large numbers, not construction, so the report is the
    evidence). Fold assignment is a map-only projection any engine
    reproduces; one cell-grain aggregate + broadcast fold totals."""
    docs = load_table(spark, "documents", sf_dir)
    folds = docs.select(
        (md5_long(Fragment("CAST(doc_id AS STRING)")) % 5).alias("fold"), "source"
    )
    cells = folds.groupBy("fold", "source").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)  # fold totals + report reuse the grid
    tots = cells.groupBy("fold").agg(F.sum("n").alias("fold_total"))
    return (
        cells.join(F.broadcast(tots), "fold")
        .select(
            "fold",
            "source",
            F.col("n").cast("long").alias("n"),
            F.col("fold_total").cast("long").alias("fold_total"),
            F.expr("(n * 1000000) div fold_total").alias("share_ppm"),
        )
        .orderBy("fold", "source")
    )


@query(
    "g2_collocations",
    oracle="""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    bi AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(tokens), 1)),
               i -> tokens[i] || ' ' || tokens[i+1])) AS bigram
      FROM toks
    ),
    o AS (SELECT bigram, count(*) AS o11 FROM bi GROUP BY 1),
    firsts AS (
      SELECT split_part(bigram, ' ', 1) AS w, sum(o11) AS ra FROM o GROUP BY 1
    ),
    seconds AS (
      SELECT split_part(bigram, ' ', 2) AS w, sum(o11) AS cb FROM o GROUP BY 1
    ),
    tot AS (SELECT sum(o11) AS n FROM o),
    cells AS (
      SELECT o.bigram, o.o11,
             CAST(o.o11 AS BIGINT) AS c11,
             CAST(f.ra - o.o11 AS BIGINT) AS c12,
             CAST(s.cb - o.o11 AS BIGINT) AS c21,
             CAST(t.n - f.ra - s.cb + o.o11 AS BIGINT) AS c22,
             CAST(f.ra AS BIGINT) AS r1, CAST(t.n - f.ra AS BIGINT) AS r2,
             CAST(s.cb AS BIGINT) AS c1, CAST(t.n - s.cb AS BIGINT) AS c2,
             CAST(t.n AS BIGINT) AS n
      FROM o
      JOIN firsts f ON f.w = split_part(o.bigram, ' ', 1)
      JOIN seconds s ON s.w = split_part(o.bigram, ' ', 2), tot t
      WHERE o.o11 >= 5
    ),
    scored AS (
      SELECT bigram, o11,
             CAST(
               2 * (
                 (CASE WHEN c11 > 0 THEN CAST(round(c11 * ln(CAST(c11 * n AS DOUBLE) / CAST(r1 * c1 AS DOUBLE)) * 1000000) AS BIGINT) ELSE 0 END)
               + (CASE WHEN c12 > 0 THEN CAST(round(c12 * ln(CAST(c12 * n AS DOUBLE) / CAST(r1 * c2 AS DOUBLE)) * 1000000) AS BIGINT) ELSE 0 END)
               + (CASE WHEN c21 > 0 THEN CAST(round(c21 * ln(CAST(c21 * n AS DOUBLE) / CAST(r2 * c1 AS DOUBLE)) * 1000000) AS BIGINT) ELSE 0 END)
               + (CASE WHEN c22 > 0 THEN CAST(round(c22 * ln(CAST(c22 * n AS DOUBLE) / CAST(r2 * c2 AS DOUBLE)) * 1000000) AS BIGINT) ELSE 0 END)
               ) AS BIGINT) AS g2_micro
      FROM cells
    )
    SELECT bigram, CAST(o11 AS BIGINT) AS o11, g2_micro
    FROM scored ORDER BY g2_micro DESC, bigram ASC LIMIT 20
    """,
)
def g2_collocations(
    spark: SparkSession, sf_dir: str, shared_toks: DataFrame | None = None
) -> DataFrame:
    """Dunning log-likelihood (G², Dunning 1993) collocation extraction
    — the statistically sound replacement for raw PMI on sparse bigrams
    (PMI over-rewards rare pairs; G² weighs ALL four contingency cells,
    so a bigram must beat its marginals everywhere). Each cell's
    O·ln(O/E) term quantizes ONCE to integer micro-nats — ln's argument
    is a ratio of exact int64 products — and G² is an integer sum of
    the four cells, so engine float-summation order never moves the
    score. Plan: one bigram-count shuffle (occurrences, not distinct),
    two marginal re-aggregates broadcast back, a 20-row TakeOrdered;
    the O11 ≥ 5 support floor bounds the scored set."""
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    # r16 A/B: spread_scan here measured +0.16 s (0.99→1.15 warm min) —
    # the 2-gram chain sits just under the exchange+probe break-even.
    # Reverted (see OPTIMIZATION_r16.md).
    # r17: `shared_toks` (suite_term_stats shared token arrays) skips
    # the tokenize pass; the 2-gram shingle runs off the checkpoint.
    if shared_toks is not None:
        bi = shared_toks.select(
            F.explode(shingles("_toks", 2)).alias("bigram")
        )
    else:
        docs = load_table(spark, "documents", sf_dir)
        bi = docs.select(
            F.explode(shingles(tokenize_sql("text"), 2)).alias("bigram")
        )
    o = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("o11"))
    o = o.withColumn("w1", F.substring_index("bigram", " ", 1)).withColumn(
        "w2", F.substring_index("bigram", " ", -1)
    )
    # marginals, total, and the scored cells all derive from the bigram
    # vocabulary — materialize once so the corpus tokenizes once
    o = o.localCheckpoint(eager=True)
    firsts = o.groupBy("w1").agg(F.sum("o11").alias("ra"))
    seconds = o.groupBy("w2").agg(F.sum("o11").alias("cb"))
    tot = o.agg(F.sum("o11").alias("n"))
    cells = (
        o.filter(F.col("o11") >= 5)
        .join(F.broadcast(firsts), "w1")
        .join(F.broadcast(seconds), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "o11",
            F.col("o11").cast("long").alias("c11"),
            (F.col("ra") - F.col("o11")).cast("long").alias("c12"),
            (F.col("cb") - F.col("o11")).cast("long").alias("c21"),
            (F.col("n") - F.col("ra") - F.col("cb") + F.col("o11"))
            .cast("long")
            .alias("c22"),
            F.col("ra").cast("long").alias("r1"),
            (F.col("n") - F.col("ra")).cast("long").alias("r2"),
            F.col("cb").cast("long").alias("c1"),
            (F.col("n") - F.col("cb")).cast("long").alias("c2"),
            F.col("n").cast("long").alias("n"),
        )
    )

    def _term(o_c: str, r_c: str, c_c: str):
        return F.when(
            F.col(o_c) > 0,
            F.round(
                F.col(o_c)
                * F.log(
                    (F.col(o_c) * F.col("n")).cast("double")
                    / (F.col(r_c) * F.col(c_c)).cast("double")
                )
                * 1_000_000
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    scored = cells.select(
        "bigram",
        F.col("o11").cast("long").alias("o11"),
        (
            2
            * (
                _term("c11", "r1", "c1")
                + _term("c12", "r1", "c2")
                + _term("c21", "r2", "c1")
                + _term("c22", "r2", "c2")
            )
        )
        .cast("long")
        .alias("g2_micro"),
    )
    return scored.orderBy(F.col("g2_micro").desc(), F.col("bigram").asc()).limit(20)


@query(
    "quantile_normalization",
    oracle="""
    WITH src AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS ns
      FROM documents
    ),
    g AS (
      SELECT n_chars AS gv,
             row_number() OVER (ORDER BY n_chars, doc_id) AS gpos
      FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM documents),
    mapped AS (
      SELECT s.doc_id, s.source, s.n_chars,
             CAST((s.rk - 1) * 1000000 // (s.ns - 1) AS BIGINT) AS src_pct_ppm,
             CAST(1 + ((s.rk - 1) * (t.n - 1)) // (s.ns - 1) AS BIGINT) AS gpos
      FROM src s, tot t WHERE s.ns > 1
    )
    SELECT m.doc_id, m.source, CAST(m.n_chars AS BIGINT) AS n_chars,
           m.src_pct_ppm, CAST(g.gv AS BIGINT) AS normalized_n_chars
    FROM mapped m JOIN g ON g.gpos = m.gpos
    ORDER BY m.doc_id LIMIT 200
    """,
)
def quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources — each document's length
    maps to its WITHIN-source rank percentile, then to the GLOBAL
    distribution's value at that percentile, making length comparable
    across sources with wildly different length profiles (the
    genomics-standard transform, here as the training-data curation
    version: per-source quality thresholds become corpus-calibrated).
    All index arithmetic is exact integers — rank ppm is floor
    (rk−1)·1e6/(ns−1), the global lookup position is the integer lerp
    1 + (rk−1)(N−1)/(ns−1) — and ties order by doc_id on both engines.
    Plan: one window per source partition, then the GLOBAL rank as a
    running count on the STITCHED two-level scan (operators/stitched.py,
    r12 — n_chars axis, doc_id tiebreak; this was a doc-grain
    single-partition sort, the Pareto shape), one position join."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    docs = load_table(spark, "documents", sf_dir)
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wsc = Window.partitionBy("source")
    src = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rk"),
        F.count(F.lit(1)).over(wsc).alias("ns"),
    )
    g = stitched_prefix_sums(
        docs.select(F.col("n_chars").alias("gv"), "doc_id").withColumn(
            "_one", F.lit(1).cast("long")
        ),
        "gv",
        ["_one"],
        what="quantile-normalization global position axis",
        tiebreak_cols=["doc_id"],
    ).select("gv", F.col("_one_cum").alias("gpos"))
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    mapped = (
        src.filter(F.col("ns") > 1)
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr("((rk - 1) * 1000000) div (ns - 1)").alias("src_pct_ppm"),
            F.expr("1 + ((rk - 1) * (n - 1)) div (ns - 1)").alias("gpos"),
        )
    )
    return (
        mapped.join(g, "gpos")
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            "src_pct_ppm",
            F.col("gv").cast("long").alias("normalized_n_chars"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "tokenizer_fertility_report",
    oracle="""
    WITH m AS (
      SELECT source,
             sum(length(text)) AS chars,
             sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> ''))) AS words,
             sum(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))) AS subwords
      FROM documents GROUP BY 1
    )
    SELECT source, CAST(chars AS BIGINT) AS chars, CAST(words AS BIGINT) AS words,
           CAST(subwords AS BIGINT) AS subwords,
           CAST(chars * 1000 // subwords AS BIGINT) AS chars_per_subword_milli,
           CAST(subwords * 1000 // words AS BIGINT) AS fertility_milli
    FROM m ORDER BY source
    """,
)
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source — subword tokens per word and
    chars per subword token (the budgeting metrics behind "how many
    training tokens is this corpus worth", and the per-language
    fairness diagnostic: a high-fertility source burns budget faster).
    Uses the same BPE-ish `\\w+|[^\\w\\s]` counter the token_counts
    gate established cross-engine; ratios are exact integer
    milli-units. One map-side-combinable aggregate."""
    from pdf_brain_spark.functions.text import subword_token_count, token_count

    docs = load_table(spark, "documents", sf_dir)
    m = docs.groupBy("source").agg(
        F.sum(F.length("text")).alias("chars"),
        F.sum(token_count("text")).alias("words"),
        F.sum(subword_token_count("text")).alias("subwords"),
    )
    return m.select(
        "source",
        F.col("chars").cast("long").alias("chars"),
        F.col("words").cast("long").alias("words"),
        F.col("subwords").cast("long").alias("subwords"),
        F.expr("(chars * 1000) div subwords").alias("chars_per_subword_milli"),
        F.expr("(subwords * 1000) div words").alias("fertility_milli"),
    ).orderBy("source")


@query(
    "events_asof_forward",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
    ),
    r AS (
      SELECT user_id, ts AS rts, value FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT l.event_id, l.user_id, l.ts, r.rts, r.value,
             row_number() OVER (
               PARTITION BY l.event_id ORDER BY r.rts ASC, r.value ASC
             ) AS rn
      FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.rts >= l.ts
    )
    SELECT event_id, user_id, ts, rts AS next_ts, value AS next_value
    FROM j WHERE rn = 1 ORDER BY event_id LIMIT 200
    """,
)
def events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join — for each signup, the user's NEXT purchase at
    or after it ("what happened next", the conversion-latency primitive;
    the backward as-of family's mirror). The Spark plan is the union-
    window shape (operators/temporal.py::asof_forward_join): both sides
    interleave on ONE sorted per-user timeline — one key exchange, no
    join, no per-left probe — while the oracle replays it as the
    correlated rank-1 selection with the same (next_ts, payload)
    tie-break. NULL next_* when no purchase follows."""
    from pdf_brain_spark.operators.temporal import asof_forward_join

    ev = load_table(spark, "events", sf_dir)
    left = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return (
        asof_forward_join(left, right, "user_id", payload_cols=("value",))
        .select("event_id", "user_id", "ts", "next_ts", "next_value")
        .orderBy("event_id")
        .limit(200)
    )


@query(
    "embedding_power_iteration",
    oracle="""
    WITH dims AS (SELECT unnest(range(1, 65)) AS i),
    x AS (
      SELECT e.vec_id, d.i,
             CAST(round(CAST(e.embedding[d.i] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, dims d
    ),
    c AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS c
      FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
    ),
    v0 AS (SELECT i AS j, CAST(1000000 AS BIGINT) AS v FROM dims),
    r1 AS (SELECT c.i, sum(c.c * v0.v) AS raw FROM c JOIN v0 ON v0.j = c.j GROUP BY 1),
    m1 AS (SELECT max(abs(raw)) AS mx FROM r1),
    v1 AS (SELECT i AS j, CAST(CAST(raw AS HUGEINT) * 1000000 // m.mx AS BIGINT) AS v FROM r1, m1 m),
    r2 AS (SELECT c.i, sum(c.c * v1.v) AS raw FROM c JOIN v1 ON v1.j = c.j GROUP BY 1),
    m2 AS (SELECT max(abs(raw)) AS mx FROM r2),
    v2 AS (SELECT i AS j, CAST(CAST(raw AS HUGEINT) * 1000000 // m.mx AS BIGINT) AS v FROM r2, m2 m)
    SELECT CAST(j - 1 AS INT) AS dim_idx, v AS loading_micro
    FROM v2 ORDER BY dim_idx
    """,
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by
    EXACT-INTEGER power iteration (operators/pca.py) — distributed PCA
    whose result hash-matches a SQL twin: components quantize once to
    milli-units, the Gram matrix is an exact int64 one-pass aggregate
    (Arrow-batched BLAS partials, the batched-similarity-join shape),
    and each of the two power steps is integer matvec +
    max-normalization with truncating division (the HITS/PageRank
    quantization playbook applied to linear algebra). The only
    collected object is the 64×64 Gram summary — bounded by dim², never
    data. The oracle rebuilds the same Gram relationally and unrolls
    the same two iterations."""
    from pdf_brain_spark.operators.pca import gram_matrix_int, power_iteration_exact

    emb = load_table(spark, "embeddings", sf_dir)
    gram = gram_matrix_int(emb, dim=64)
    return power_iteration_exact(spark, gram, dim=64, n_iter=2).orderBy("dim_idx")


@query(
    "streaming_incremental_cms",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    exact AS (SELECT term, count(*) AS true_count FROM toks GROUP BY 1),
    top10 AS (
      SELECT term, true_count FROM exact
      ORDER BY true_count DESC, term ASC LIMIT 10
    ),
    cells AS (
      SELECT r.r AS row_idx,
             CAST(concat('0x', substr(md5(t.term || '#' || CAST(r.r AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS col_idx,
             count(*) AS cnt
      FROM toks t, (SELECT unnest(range(0, 4)) AS r) r
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT p.term, p.true_count, r.r AS row_idx,
             CAST(concat('0x', substr(md5(p.term || '#' || CAST(r.r AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS col_idx
      FROM top10 p, (SELECT unnest(range(0, 4)) AS r) r
    )
    SELECT p.term, CAST(any_value(p.true_count) AS BIGINT) AS true_count,
           CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_estimate,
           CAST(min(COALESCE(c.cnt, 0)) - any_value(p.true_count) AS BIGINT) AS overestimate
    FROM probes p LEFT JOIN cells c
      ON c.row_idx = p.row_idx AND c.col_idx = p.col_idx
    GROUP BY p.term ORDER BY p.term
    """,
)
def streaming_incremental_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min-Sketch heavy-hitter maintenance (Cormode &
    Muthukrishnan 2005) — the bounded-state frequency monoid
    (streaming/events.py::make_cms_batch_fn): per-batch cell partials
    merge by integer addition, so however the stream carved the corpus
    the merged sketch is bit-identical to the one-shot build the oracle
    replays. The gate probes the true top-10 terms and reports each
    estimate's overestimate (structurally ≥ 0 — CMS never
    underestimates; the ≥ relation is IN the hash-compared output).
    Sketch state is 4×512 longs per live generation regardless of
    corpus size — the regime where even the term dictionary outgrows
    memory and exact top-k stops being maintainable. A real
    AvailableNow run per invocation."""
    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.streaming.events import (
        read_cms_estimates,
        streaming_incremental_cms as drive_cms,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    with replayed_stream(spark, docs, F.col("doc_id") % 2 == 0) as (stream, root):
        store = f"{root}/cms"
        drive_cms(spark, stream, store, f"{root}/ckpt").awaitTermination()
        exact = (
            docs.select(F.explode(tokenize("text")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("true_count"))
        )
        top10 = exact.orderBy(
            F.col("true_count").desc(), F.col("term").asc()
        ).limit(10).localCheckpoint(eager=True)
        est = read_cms_estimates(spark, store, top10.select("term"))
        return (
            top10.join(est, "term")
            .select(
                "term",
                F.col("true_count").cast("long").alias("true_count"),
                "cms_estimate",
                (F.col("cms_estimate") - F.col("true_count"))
                .cast("long")
                .alias("overestimate"),
            )
            .orderBy("term")
            .localCheckpoint(eager=True)
        )


@query(
    "did_estimate",
    oracle="""
    WITH p AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 2 END AS period,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    cells AS (
      SELECT treated, period, count(*) AS n, sum(cents) AS s,
             CAST(sum(cents) * 1000000 // count(*) AS BIGINT) AS mean_micro
      FROM p GROUP BY 1, 2
    )
    SELECT
      CAST(max(CASE WHEN treated = 1 AND period = 1 THEN n END) AS BIGINT) AS n_t1,
      CAST(max(CASE WHEN treated = 1 AND period = 2 THEN n END) AS BIGINT) AS n_t2,
      CAST(max(CASE WHEN treated = 0 AND period = 1 THEN n END) AS BIGINT) AS n_c1,
      CAST(max(CASE WHEN treated = 0 AND period = 2 THEN n END) AS BIGINT) AS n_c2,
      CAST(max(CASE WHEN treated = 1 AND period = 1 THEN mean_micro END) AS BIGINT) AS mean_t1_micro,
      CAST(max(CASE WHEN treated = 1 AND period = 2 THEN mean_micro END) AS BIGINT) AS mean_t2_micro,
      CAST(max(CASE WHEN treated = 0 AND period = 1 THEN mean_micro END) AS BIGINT) AS mean_c1_micro,
      CAST(max(CASE WHEN treated = 0 AND period = 2 THEN mean_micro END) AS BIGINT) AS mean_c2_micro,
      CAST((max(CASE WHEN treated = 1 AND period = 2 THEN mean_micro END)
            - max(CASE WHEN treated = 1 AND period = 1 THEN mean_micro END))
           - (max(CASE WHEN treated = 0 AND period = 2 THEN mean_micro END)
              - max(CASE WHEN treated = 0 AND period = 1 THEN mean_micro END)) AS BIGINT) AS did_micro
    FROM cells
    """,
)
def did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator — the workhorse causal
    design: (treated after − treated before) − (control after − control
    before) on purchase value, with even user_ids standing in for the
    treatment arm and the mid-month cut as the intervention date. All
    four cell means are exact integer micro-cents (floor of exact sums
    — both engines truncate identically), so the DiD contrast is pure
    integer arithmetic. One conditional-pivot aggregate over one
    filtered scan; the 2×2 grid is bounded by design."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    p = ev.select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("treated"),
        F.when(F.col("ts") < F.lit("2024-01-16"), 1).otherwise(2).alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cells = p.groupBy("treated", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
    ).withColumn("mean_micro", F.expr("(s * 1000000) div n"))

    def cell(t, pd_, col):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("period") == pd_), F.col(col))
        )

    return cells.agg(
        cell(1, 1, "n").cast("long").alias("n_t1"),
        cell(1, 2, "n").cast("long").alias("n_t2"),
        cell(0, 1, "n").cast("long").alias("n_c1"),
        cell(0, 2, "n").cast("long").alias("n_c2"),
        cell(1, 1, "mean_micro").cast("long").alias("mean_t1_micro"),
        cell(1, 2, "mean_micro").cast("long").alias("mean_t2_micro"),
        cell(0, 1, "mean_micro").cast("long").alias("mean_c1_micro"),
        cell(0, 2, "mean_micro").cast("long").alias("mean_c2_micro"),
        (
            (cell(1, 2, "mean_micro") - cell(1, 1, "mean_micro"))
            - (cell(0, 2, "mean_micro") - cell(0, 1, "mean_micro"))
        )
        .cast("long")
        .alias("did_micro"),
    )


@query(
    "random_projection_jl",
    oracle="""
    WITH dims AS (SELECT unnest(range(1, 65)) AS i),
    ks AS (SELECT unnest(range(0, 16)) AS k),
    x AS (
      SELECT e.vec_id, d.i,
             CAST(round(CAST(e.embedding[d.i] AS DOUBLE) * 1000) AS BIGINT) AS q
      FROM embeddings e, dims d WHERE e.vec_id < 40
    ),
    signs AS (
      SELECT d.i, ks.k,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(d.i - 1 AS VARCHAR) || '#' || CAST(ks.k AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM dims d, ks
    ),
    proj AS (
      SELECT x.vec_id, s.k, sum(s.s * x.q) AS p
      FROM x JOIN signs s ON s.i = x.i GROUP BY 1, 2
    ),
    pairs AS (SELECT unnest(range(0, 20)) AS j),
    od AS (
      SELECT pr.j, sum(a.q * b.q) AS orig_dot
      FROM pairs pr
      JOIN x a ON a.vec_id = 2 * pr.j
      JOIN x b ON b.vec_id = 2 * pr.j + 1 AND b.i = a.i
      GROUP BY 1
    ),
    pd_ AS (
      SELECT pr.j, sum(a.p * b.p) AS proj_dot
      FROM pairs pr
      JOIN proj a ON a.vec_id = 2 * pr.j
      JOIN proj b ON b.vec_id = 2 * pr.j + 1 AND b.k = a.k
      GROUP BY 1
    )
    SELECT CAST(o.j AS BIGINT) AS pair_idx,
           CAST(o.orig_dot AS BIGINT) AS orig_dot,
           CAST(p.proj_dot AS BIGINT) AS proj_dot,
           CAST(p.proj_dot * 1000000 // (16 * o.orig_dot) AS BIGINT) AS ratio_ppm
    FROM od o JOIN pd_ p ON p.j = o.j
    WHERE o.orig_dot <> 0
    ORDER BY pair_idx
    """,
)
def random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003
    ±1-sign variant) with a dot-product-preservation audit: embeddings
    project 64→16 dims through a DETERMINISTIC sign matrix derived from
    the portable hash, components quantize once to integer milli-units,
    so projections, original dot products, and the preservation ratio
    E[proj·proj']=k·(q·q') are ALL exact integers both engines replay
    bit-for-bit — the dimensionality-reduction member of the sketch
    family (PQ compresses codes, BSQ compresses bits, JL compresses
    dimensions). Plan: the sign matrix (64×16) broadcasts; projection
    is one (vec, k) aggregate over exploded components; the audit runs
    on a bounded 20-pair sample."""
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 40)
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "v")
    ).select(
        "vec_id",
        F.col("i0").alias("i"),
        F.round(F.col("v").cast("double") * 1000).cast("long").alias("q"),
    )
    x = x.localCheckpoint(eager=True)  # projection + both dot-product arms reuse it
    dims = spark.range(64).select(F.col("id").cast("int").alias("i"))
    ks = spark.range(16).select(F.col("id").cast("int").alias("k"))
    signs = dims.crossJoin(ks).select(
        "i",
        "k",
        F.when(
            md5_long(Fragment("concat(CAST(i AS STRING), '#', CAST(k AS STRING))"))
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    proj = (
        x.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("s") * F.col("q")).alias("p"))
        .localCheckpoint(eager=True)
    )
    pairs = spark.range(20).select(F.col("id").cast("long").alias("j"))
    xa = x.select(F.col("vec_id").alias("va"), "i", F.col("q").alias("qa"))
    xb = x.select(F.col("vec_id").alias("vb"), F.col("i").alias("ib"), F.col("q").alias("qb"))
    od = (
        F.broadcast(pairs)
        .join(xa, xa.va == 2 * F.col("j"))
        .join(xb, (xb.vb == 2 * F.col("j") + 1) & (F.col("ib") == F.col("i")))
        .groupBy("j")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("orig_dot"))
    )
    pa = proj.select(F.col("vec_id").alias("va"), "k", F.col("p").alias("p_a"))
    pb = proj.select(F.col("vec_id").alias("vb"), F.col("k").alias("kb"), F.col("p").alias("p_b"))
    pd_ = (
        F.broadcast(pairs)
        .join(pa, pa.va == 2 * F.col("j"))
        .join(pb, (pb.vb == 2 * F.col("j") + 1) & (F.col("kb") == F.col("k")))
        .groupBy("j")
        .agg(F.sum(F.col("p_a") * F.col("p_b")).alias("proj_dot"))
    )
    return (
        od.join(pd_, "j")
        .filter(F.col("orig_dot") != 0)
        .select(
            F.col("j").alias("pair_idx"),
            F.col("orig_dot").cast("long").alias("orig_dot"),
            F.col("proj_dot").cast("long").alias("proj_dot"),
            F.expr("(proj_dot * 1000000) div (16 * orig_dot)").alias("ratio_ppm"),
        )
        .orderBy("pair_idx")
    )


@query(
    "abc_xyz_classification",
    oracle="""
    WITH li AS (
      SELECT p.p_brand AS brand,
             date_trunc('month', l.l_shipdate) AS m,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l.l_quantity) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    months AS (SELECT count(DISTINCT m) AS nm FROM li),
    monthly AS (
      SELECT brand, m, sum(qty) AS q FROM li GROUP BY 1, 2
    ),
    stats AS (
      SELECT brand, sum(q) AS s, sum(q * q) AS s2 FROM monthly GROUP BY 1
    ),
    rev AS (SELECT brand, sum(cents) AS revenue_cents FROM li GROUP BY 1),
    tot AS (SELECT sum(revenue_cents) AS t FROM rev),
    ranked AS (
      SELECT r.brand, r.revenue_cents,
             sum(r.revenue_cents) OVER (
               ORDER BY r.revenue_cents DESC, r.brand ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_cents
      FROM rev r
    )
    SELECT rk.brand, CAST(rk.revenue_cents AS BIGINT) AS revenue_cents,
           CAST(rk.cum_cents AS BIGINT) AS cum_cents,
           CASE WHEN 5 * rk.cum_cents <= 4 * t.t THEN 'A'
                WHEN 20 * rk.cum_cents <= 19 * t.t THEN 'B'
                ELSE 'C' END AS abc_class,
           CASE WHEN 4 * (m.nm * st.s2 - st.s * st.s) <= st.s * st.s THEN 'X'
                WHEN (m.nm * st.s2 - st.s * st.s) <= st.s * st.s THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM ranked rk
    JOIN stats st ON st.brand = rk.brand, tot t, months m
    ORDER BY rk.revenue_cents DESC, rk.brand ASC
    """,
)
def abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification — the supply-chain segmentation
    matrix: ABC by cumulative revenue share (A ≤ 80%, B ≤ 95%, else C)
    and XYZ by demand variability (X: CV² ≤ 0.25, Y: CV² ≤ 1, else Z)
    over the monthly demand series. Every boundary is an EXACT INTEGER
    cross-multiplication — 5·cum ≤ 4·total for the 80% cut,
    4·(n·Σq² − S²) ≤ S² for CV² ≤ 1/4 — so no float share or variance
    can straddle a class boundary differently per engine. Months with
    no demand contribute zero through the shared month count n (the
    variance denominator is the CALENDAR, not the brand's active
    months — the difference between X and Z for intermittent demand).
    Plan: one brand×month aggregate, two brand-grain re-aggregates,
    one cumulative window over the bounded brand universe."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    base = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "brand", "m", "cents", "qty"
    )
    monthly = base.groupBy("brand", "m").agg(F.sum("qty").alias("q"))
    monthly = monthly.localCheckpoint(eager=True)  # stats + month count reuse
    nm = monthly.select("m").distinct().count()
    stats = monthly.groupBy("brand").agg(
        F.sum("q").alias("s"), F.sum(F.col("q") * F.col("q")).alias("s2")
    )
    rev = base.groupBy("brand").agg(F.sum("cents").alias("revenue_cents"))
    rev = rev.localCheckpoint(eager=True)  # total + ranking reuse
    tot = rev.agg(F.sum("revenue_cents").alias("t"))
    # descending (revenue, brand) running share via the STITCHED scan
    # (operators/stitched.py, r12): negated axis + brand tiebreak; the
    # DuckDB oracle keeps the global-window form
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    ranked = stitched_prefix_sums(
        rev.withColumn("_neg", -F.col("revenue_cents")),
        "_neg",
        ["revenue_cents"],
        what="ABC brand axis",
        tiebreak_cols=["brand"],
    ).select(
        "brand",
        "revenue_cents",
        F.col("revenue_cents_cum").alias("cum_cents"),
    )
    var_n2 = F.lit(nm) * F.col("s2") - F.col("s") * F.col("s")
    return (
        ranked.join(stats, "brand")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand",
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
            F.col("cum_cents").cast("long").alias("cum_cents"),
            F.when(5 * F.col("cum_cents") <= 4 * F.col("t"), "A")
            .when(20 * F.col("cum_cents") <= 19 * F.col("t"), "B")
            .otherwise("C")
            .alias("abc_class"),
            F.when(4 * var_n2 <= F.col("s") * F.col("s"), "X")
            .when(var_n2 <= F.col("s") * F.col("s"), "Y")
            .otherwise("Z")
            .alias("xyz_class"),
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("brand").asc())
    )


@query(
    "revenue_bridge_decomposition",
    oracle="""
    WITH yr AS (
      SELECT p.p_brand AS brand, year(l.l_shipdate) AS y,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents,
             sum(CAST(round(l.l_quantity) AS BIGINT)) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT brand,
             max(CASE WHEN y = 1996 THEN cents END) AS c1,
             max(CASE WHEN y = 1996 THEN qty END) AS q1,
             max(CASE WHEN y = 1997 THEN cents END) AS c2,
             max(CASE WHEN y = 1997 THEN qty END) AS q2
      FROM yr GROUP BY 1
    )
    SELECT brand, CAST(c1 AS BIGINT) AS c1_cents, CAST(c2 AS BIGINT) AS c2_cents,
           CAST(q1 AS BIGINT) AS q1, CAST(q2 AS BIGINT) AS q2,
           CAST(c2 - c1 AS BIGINT) AS delta_cents,
           CAST(((q2 - q1) * c1) // q1 AS BIGINT) AS volume_effect_cents,
           CAST((c2 - c1) - ((q2 - q1) * c1) // q1 AS BIGINT) AS price_mix_effect_cents
    FROM wide
    WHERE c1 IS NOT NULL AND c2 IS NOT NULL AND q1 > 0
    ORDER BY brand
    """,
)
def revenue_bridge_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue bridge per brand — the price/volume
    decomposition every revenue review runs: volume effect =
    Δqty·(prior revenue per unit), price/mix effect = the exact
    remainder, so the two effects sum to the revenue delta BY
    CONSTRUCTION (the float version never quite does, and the floor
    lands in price/mix where analysts expect the plug). All inputs are
    integer cents and whole quantities; both engines truncate the one
    division identically. One (brand, year) aggregate + a two-column
    pivot; the ship-year predicate reaches the fact scan."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    yr = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("brand", F.year("l_shipdate").alias("y"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
        )
    )
    wide = yr.groupBy("brand").agg(
        F.max(F.when(F.col("y") == 1996, F.col("cents"))).alias("c1"),
        F.max(F.when(F.col("y") == 1996, F.col("qty"))).alias("q1"),
        F.max(F.when(F.col("y") == 1997, F.col("cents"))).alias("c2"),
        F.max(F.when(F.col("y") == 1997, F.col("qty"))).alias("q2"),
    )
    return (
        wide.filter(
            F.col("c1").isNotNull() & F.col("c2").isNotNull() & (F.col("q1") > 0)
        )
        .select(
            "brand",
            F.col("c1").cast("long").alias("c1_cents"),
            F.col("c2").cast("long").alias("c2_cents"),
            F.col("q1").cast("long").alias("q1"),
            F.col("q2").cast("long").alias("q2"),
            (F.col("c2") - F.col("c1")).cast("long").alias("delta_cents"),
            F.expr("((q2 - q1) * c1) div q1").cast("long").alias("volume_effect_cents"),
            F.expr("(c2 - c1) - ((q2 - q1) * c1) div q1")
            .cast("long")
            .alias("price_mix_effect_cents"),
        )
        .orderBy("brand")
    )


# nDCG position discounts in integer micro-units (round(1e6/log2(r+1)),
# r = 1..10) and their prefix sums — computed ONCE here and inlined as
# LITERALS into both engines, so no cross-engine log2 call can differ.
_NDCG_DISC = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065]
_NDCG_PREFIX = [1000000, 1630930, 2130930, 2561607, 2948460, 3304667, 3638000, 3953465, 4254495, 4543560]

# Poisson(1) CDF thresholds on md5_long's 2^60 hash space (floor(cdf(k)·2^60),
# k = 0..7; h >= last threshold draws weight 8) — the deterministic Poisson
# bootstrap's resample weights, identical literals on both engines.
_POISSON_T = [
    424136118829305344, 848272237658610688, 1060340297073263360,
    1131029650211480960, 1148701988496035328, 1152236456152946176,
    1152825534095764608, 1152909688087595776,
]


@query(
    "retrieval_eval_ndcg",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS ql
      FROM embeddings WHERE vec_id < 16
    ),
    scored AS (
      SELECT q.qid, e.vec_id, CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel,
             (1.0 - list_sum(list_transform(list_zip(e.embedding, q.qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS d
      FROM embeddings e, q WHERE e.vec_id <> q.qid
    ),
    nrel AS (SELECT qid, sum(rel) AS n_rel_total FROM scored GROUP BY 1),
    ranked AS (
      SELECT qid, rel,
             row_number() OVER (PARTITION BY qid ORDER BY d ASC, vec_id ASC) AS r
      FROM scored
    ),
    disc AS (SELECT * FROM (VALUES (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853), (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065)) AS t(r, d_micro)),
    pre AS (SELECT * FROM (VALUES (1, 1000000), (2, 1630930), (3, 2130930), (4, 2561607), (5, 2948460), (6, 3304667), (7, 3638000), (8, 3953465), (9, 4254495), (10, 4543560)) AS t(n, idcg_micro)),
    top AS (
      SELECT rk.qid,
             sum(rk.rel * dc.d_micro) AS dcg_micro,
             sum(rk.rel) AS rel_in_top10,
             min(CASE WHEN rk.rel = 1 THEN rk.r END) AS first_rel_rank
      FROM ranked rk JOIN disc dc ON dc.r = rk.r
      WHERE rk.r <= 10 GROUP BY 1
    )
    SELECT t.qid, CAST(n.n_rel_total AS BIGINT) AS n_rel_total,
           CAST(t.rel_in_top10 AS BIGINT) AS rel_in_top10,
           CAST(t.dcg_micro AS BIGINT) AS dcg_micro,
           CAST(t.dcg_micro * 1000000 // p.idcg_micro AS BIGINT) AS ndcg_ppm,
           CAST(COALESCE(1000000 // t.first_rel_rank, 0) AS BIGINT) AS rr_micro,
           CAST(t.rel_in_top10 * 1000000 // n.n_rel_total AS BIGINT) AS recall_ppm
    FROM top t
    JOIN nrel n ON n.qid = t.qid
    JOIN pre p ON p.n = least(n.n_rel_total, 10)
    WHERE n.n_rel_total > 0
    ORDER BY t.qid
    """,
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness — nDCG@10, reciprocal rank,
    and recall@10 per query, with same-label membership as the
    relevance judgment (the standard eval loop for any of this engine's
    ANN/FTS/hybrid retrievers, as an operator). The log2 position
    discounts and ideal-DCG prefix sums are INTEGER LITERALS computed
    once and inlined into both engines — no cross-engine transcendental
    call — so DCG, nDCG, RR, and recall are all exact integer
    arithmetic over a ranking whose determinism (cosine distance,
    vec_id tie-break) every vector gate already relies on. Plan: one
    corpus×16 broadcast score pass, one per-query rank window, bounded
    literal-table joins."""
    from pdf_brain_spark.functions.vector import cosine_distance
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("ql"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.when(F.col("label") == F.col("ql"), 1).otherwise(0).alias("rel"),
            cosine_distance("embedding", "qv").alias("d"),
        )
        .localCheckpoint(eager=True)  # nrel + the rank window reuse it
    )
    nrel = scored.groupBy("qid").agg(F.sum("rel").alias("n_rel_total"))
    w = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("vec_id").asc())
    ranked = scored.select("qid", "rel", F.row_number().over(w).alias("r"))
    disc = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(_NDCG_DISC)], "r int, d_micro long"
    )
    pre = spark.createDataFrame(
        [(i + 1, p) for i, p in enumerate(_NDCG_PREFIX)], "n int, idcg_micro long"
    )
    top = (
        ranked.filter(F.col("r") <= 10)
        .join(F.broadcast(disc), "r")
        .groupBy("qid")
        .agg(
            F.sum(F.col("rel") * F.col("d_micro")).alias("dcg_micro"),
            F.sum("rel").alias("rel_in_top10"),
            F.min(F.when(F.col("rel") == 1, F.col("r"))).alias("first_rel_rank"),
        )
    )
    return (
        top.join(nrel, "qid")
        .filter(F.col("n_rel_total") > 0)
        .join(
            F.broadcast(pre),
            F.col("n") == F.least(F.col("n_rel_total"), F.lit(10)),
        )
        .select(
            "qid",
            F.col("n_rel_total").cast("long").alias("n_rel_total"),
            F.col("rel_in_top10").cast("long").alias("rel_in_top10"),
            F.col("dcg_micro").cast("long").alias("dcg_micro"),
            F.expr("(dcg_micro * 1000000) div idcg_micro").alias("ndcg_ppm"),
            F.coalesce(
                F.expr("1000000 div first_rel_rank"), F.lit(0)
            ).cast("long").alias("rr_micro"),
            F.expr("(rel_in_top10 * 1000000) div n_rel_total").alias("recall_ppm"),
        )
        .orderBy("qid")
    )


@query(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH base AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    reps AS (SELECT unnest(range(0, 40)) AS rep),
    weighted AS (
      SELECT r.rep, b.cents,
             (CASE
                WHEN h < {_POISSON_T[0]} THEN 0
                WHEN h < {_POISSON_T[1]} THEN 1
                WHEN h < {_POISSON_T[2]} THEN 2
                WHEN h < {_POISSON_T[3]} THEN 3
                WHEN h < {_POISSON_T[4]} THEN 4
                WHEN h < {_POISSON_T[5]} THEN 5
                WHEN h < {_POISSON_T[6]} THEN 6
                WHEN h < {_POISSON_T[7]} THEN 7
                ELSE 8 END) AS w
      FROM base b, reps r,
           LATERAL (SELECT CAST(concat('0x', substr(md5(CAST(b.event_id AS VARCHAR) || '#' || CAST(r.rep AS VARCHAR)), 1, 15)) AS BIGINT) AS h)
    ),
    means AS (
      SELECT rep, CAST(sum(w * cents) * 1000000 // sum(w) AS BIGINT) AS mean_micro
      FROM weighted GROUP BY rep HAVING sum(w) > 0
    ),
    ordered AS (
      SELECT mean_micro, row_number() OVER (ORDER BY mean_micro ASC) AS rk,
             count(*) OVER () AS b
      FROM means
    ),
    full_ AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(cents) * 1000000 // count(*) AS BIGINT) AS mean_micro
      FROM base
    )
    SELECT f.n_events, CAST(o1.b AS BIGINT) AS boot_b, f.mean_micro,
           o1.mean_micro AS ci_lo_micro, o2.mean_micro AS ci_hi_micro
    FROM full_ f,
         (SELECT mean_micro, b FROM ordered WHERE rk = 2) o1,
         (SELECT mean_micro FROM ordered WHERE rk = 39) o2
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap confidence interval for the mean
    purchase value — the distributed bootstrap (per-row Poisson(1)
    resample weights instead of multinomial resampling, the standard
    trick for data too big to index) made ENGINE-EXACT: each (row,
    replicate) draws its weight by comparing the portable hash against
    Poisson CDF thresholds precomputed as integer literals, so all 40
    replicate means are exact integer micro-cents and the 2.5/97.5%
    order statistics (ranks 2 and 39 of 40) hash-match. One scan
    fans out ×40 map-side into a combinable per-replicate aggregate —
    shuffle volume is 40 groups, never the event stream."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    base = ev.select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).localCheckpoint(eager=True)  # the full-sample mean + the fan-out reuse it
    reps = spark.range(40).select(F.col("id").cast("int").alias("rep"))
    h = md5_long(Fragment("concat(CAST(event_id AS STRING), '#', CAST(rep AS STRING))"))
    wcol = (
        F.when(h < _POISSON_T[0], 0)
        .when(h < _POISSON_T[1], 1)
        .when(h < _POISSON_T[2], 2)
        .when(h < _POISSON_T[3], 3)
        .when(h < _POISSON_T[4], 4)
        .when(h < _POISSON_T[5], 5)
        .when(h < _POISSON_T[6], 6)
        .when(h < _POISSON_T[7], 7)
        .otherwise(8)
    )
    means = (
        base.crossJoin(F.broadcast(reps))
        .select("rep", "cents", wcol.alias("w"))
        .groupBy("rep")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("swc"), F.sum("w").alias("sw"))
        .filter(F.col("sw") > 0)
        .select("rep", F.expr("(swc * 1000000) div sw").alias("mean_micro"))
    )
    wr = Window.orderBy(F.col("mean_micro").asc())
    ordered = means.select(
        "mean_micro",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("b"),
    ).localCheckpoint(eager=True)  # both order-stat probes reuse it
    full_ = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("(sum(cents) * 1000000) div count(1)").cast("long").alias("mean_micro"),
    )
    lo = ordered.filter(F.col("rk") == 2).select(
        F.col("mean_micro").alias("ci_lo_micro"), F.col("b").cast("long").alias("boot_b")
    )
    hi = ordered.filter(F.col("rk") == 39).select(
        F.col("mean_micro").alias("ci_hi_micro")
    )
    return (
        full_.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("n_events", "boot_b", "mean_micro", "ci_lo_micro", "ci_hi_micro")
    )


@query(
    "interval_overlap_join",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id FROM events WHERE user_id < 20
    ),
    ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
    ),
    sess AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id,
             ts
      FROM ordered
    ),
    iv AS (
      SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
      FROM sess GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b
      FROM iv a JOIN iv b
        ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    )
    SELECT user_a, user_b, CAST(count(*) AS BIGINT) AS n_overlaps
    FROM pairs GROUP BY 1, 2
    ORDER BY n_overlaps DESC, user_a, user_b LIMIT 50
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join — which users' sessions were concurrent,
    and how often (co-presence analysis; the INTERVAL JOIN Spark has no
    native operator for). The Spark plan demonstrates the SLAB-BUCKETED
    range-join technique that survives 100 TB: each session interval
    explodes to the hour slabs it covers, candidate pairs form by slab
    EQUI-join (so the shuffle key is time, never a cross product), the
    exact overlap predicate filters candidates, and a distinct
    de-duplicates multi-slab pairs. Cost ∝ overlaps + slab spans, not
    sessions². The oracle replays the direct quadratic join over the
    bounded 20-user subset — parity proves the slab plan loses no pair
    (a slab-width bug drops pairs that touch only across an hour
    boundary). Sessionization reuses the shared 30-minute kernel."""
    from pdf_brain_spark.operators.temporal import with_session_ids

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    sess = with_session_ids(ev)
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    ).localCheckpoint(eager=True)  # both slab arms reuse the interval set
    slabs = iv.select(
        "user_id",
        "session_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s")),
                F.date_trunc("hour", F.col("e")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("slab"),
    )
    a = slabs.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("sid_a"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
        "slab",
    )
    b = slabs.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("sid_b"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
        F.col("slab").alias("slab_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("slab_b") == F.col("slab"))
            & (F.col("user_a") < F.col("user_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea")),
        )
        .select("user_a", "sid_a", "user_b", "sid_b")
        .distinct()
    )
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlaps"))
        .orderBy(F.col("n_overlaps").desc(), "user_a", "user_b")
        .limit(50)
    )


@query(
    "cosine_label_calibration",
    oracle="""
    WITH sub AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 100
    ),
    pairs AS (
      SELECT CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same,
             (list_sum(list_transform(list_zip(a.embedding, b.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS cos
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    ),
    binned AS (
      SELECT least(greatest(CAST(floor((cos + 1.0) * 10.0) AS INT), 0), 19) AS bin,
             same
      FROM pairs
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(same) AS BIGINT) AS n_same_label,
           CAST(sum(same) * 1000000 // count(*) AS BIGINT) AS same_rate_ppm
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def cosine_label_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-score calibration table — P(same label | cosine bin)
    over all pairs of a bounded 100-vector sample: the curve that turns
    a raw ANN score into a meaningful match probability (the evidence
    behind every "cosine ≥ 0.8 means duplicate" threshold this engine's
    dedup and retrieval operators take as input). Binning happens on
    the SAME double cosine both engines already compute identically
    (every vector gate's precedent); counts and the rate ppm are exact
    integers. The pair fan-out is over the bounded calibration sample
    (C(100,2) = 4950), never the corpus — at 100 TB you calibrate on a
    sample by construction, not by accident."""
    from pdf_brain_spark.functions.vector import cosine_similarity

    sub = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 100)
    sub = sub.localCheckpoint(eager=True)  # both self-join arms reuse it
    a = sub.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), F.col("label").alias("la")
    )
    b = sub.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), F.col("label").alias("lb")
    )
    pairs = a.join(b, F.col("va") < F.col("vb")).select(
        F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("same"),
        cosine_similarity("ea", "eb").alias("cos"),
    )
    binned = pairs.select(
        F.least(
            F.greatest(
                F.floor((F.col("cos") + 1.0) * 10.0).cast("int"), F.lit(0)
            ),
            F.lit(19),
        ).alias("bin"),
        "same",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("same").cast("long").alias("n_same_label"),
        )
        .withColumn("same_rate_ppm", F.expr("(n_same_label * 1000000) div n_pairs"))
        .orderBy("bin")
    )


@query(
    "basket_triples",
    oracle="""
    WITH m AS MATERIALIZED (
      -- MATERIALIZED: inlined, DuckDB re-plans the three-way self-join
      -- with the brand inequalities as an IEJoin-class plan (~174 s at
      -- sf0.1); materialized, it hash-joins on ok (~1 s). Same rows.
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    triples AS (
      SELECT a.brand AS b1, b.brand AS b2, c.brand AS b3, count(*) AS support
      FROM m a
      JOIN m b ON b.ok = a.ok AND b.brand > a.brand
      JOIN m c ON c.ok = a.ok AND c.brand > b.brand
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT count(DISTINCT ok) AS n_orders FROM m)
    SELECT t.b1, t.b2, t.b3, CAST(t.support AS BIGINT) AS support,
           CAST(t.support * 1000000 // x.n_orders AS BIGINT) AS support_ppm
    FROM triples t, tot x
    WHERE t.support >= 5
    ORDER BY t.support DESC, t.b1, t.b2, t.b3 LIMIT 25
    """,
)
def basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand TRIPLES within orders (the 3-itemset level of the
    Apriori lattice; market_basket_lift covers pairs) with a support
    floor. The triple fan-out is bounded by the BRAND universe —
    membership deduplicates to DISTINCT (order, brand) FIRST, so a
    k-brand order emits C(k,3) with k ≤ 25, never per-lineitem — the
    same projection-before-join argument as cooccurrence_edges, one
    level up the lattice. Support is exact integer counts; the ppm is
    floor over the distinct-order total."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint(eager=True)  # three join arms + the total reuse it
    )
    a = m.select("ok", F.col("brand").alias("b1"))
    b = m.select(F.col("ok").alias("ok_b"), F.col("brand").alias("b2"))
    c = m.select(F.col("ok").alias("ok_c"), F.col("brand").alias("b3"))
    triples = (
        a.join(b, (F.col("ok_b") == F.col("ok")) & (F.col("b2") > F.col("b1")))
        .join(c, (F.col("ok_c") == F.col("ok")) & (F.col("b3") > F.col("b2")))
        .groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    tot = m.select("ok").distinct().count()
    return (
        triples.filter(F.col("support") >= 5)
        .select(
            "b1",
            "b2",
            "b3",
            F.col("support").cast("long").alias("support"),
            F.expr(f"(support * 1000000) div {tot}").alias("support_ppm"),
        )
        .orderBy(F.col("support").desc(), "b1", "b2", "b3")
        .limit(25)
    )


# ONE SQL text, TWO engines: this string is submitted verbatim to BOTH
# spark.sql() and DuckDB — the strongest possible statement of the
# engine's ANSI-SQL surface parity (every other gate pairs a DataFrame
# plan with a SQL twin; this one has no twin to drift).
_SQL_INTERFACE_TEXT = """
    WITH rev AS (
      SELECT c.c_mktsegment AS segment, o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    ),
    ranked AS (
      SELECT segment, o_orderkey, cents,
             row_number() OVER (
               PARTITION BY segment ORDER BY cents DESC, o_orderkey ASC
             ) AS rn,
             sum(cents) OVER (PARTITION BY segment) AS segment_cents
      FROM rev
    )
    SELECT segment, CAST(rn AS BIGINT) AS rn, o_orderkey, cents,
           CAST(segment_cents AS BIGINT) AS segment_cents
    FROM ranked WHERE rn <= 3
    ORDER BY segment, rn
"""


@query("sql_interface_topk", oracle=_SQL_INTERFACE_TEXT)
def sql_interface_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() surface, exercised end to end: top-3 1997 orders
    per market segment with the segment's revenue total, expressed as
    ONE ANSI-SQL string (CTEs, a join, two window functions) submitted
    VERBATIM to spark.sql over registered temp views — and the oracle
    is the IDENTICAL string on DuckDB, so this gate proves the SQL
    dialect surface itself, not a hand-matched twin. Catalyst plans it
    like any DataFrame query: the date predicate pushes to the orders
    scan, customer broadcasts, one segment exchange feeds both
    windows."""
    from pdf_brain_spark.sources.loaders import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_INTERFACE_TEXT)


@query(
    "revenue_cagr_by_segment",
    oracle="""
    WITH yr AS (
      SELECT c.c_mktsegment AS segment, year(o.o_orderdate) AS y,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE year(o.o_orderdate) IN (1995, 2000)
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT segment,
             max(CASE WHEN y = 1995 THEN cents END) AS c1,
             max(CASE WHEN y = 2000 THEN cents END) AS c2
      FROM yr GROUP BY 1
    ),
    lns AS (
      SELECT segment, c1, c2,
             CAST(round(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000) AS BIGINT) AS ln_micro
      FROM wide WHERE c1 > 0 AND c2 > 0
    )
    SELECT segment, CAST(c1 AS BIGINT) AS rev_1995_cents,
           CAST(c2 AS BIGINT) AS rev_2000_cents, ln_micro,
           round(exp(CAST(ln_micro // 5 AS DOUBLE) / 1000000.0) - 1.0, 6) AS cagr
    FROM lns ORDER BY segment
    """,
)
def revenue_cagr_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound annual growth rate per market segment between 1995 and
    2000 — geometric growth via the micro-nat playbook: the one ln of
    the exact integer revenue ratio rounds ONCE to integer micro-nats,
    the per-year division is integer, and a single exp at the end
    produces the rate (the Kaplan-Meier/perplexity float discipline
    applied to finance). One two-year aggregate + a two-column pivot;
    the year predicate prunes the scan."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    yr = (
        orders.filter(F.year("o_orderdate").isin(1995, 2000))
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("segment", F.year("o_orderdate").alias("y"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    wide = yr.groupBy("segment").agg(
        F.max(F.when(F.col("y") == 1995, F.col("cents"))).alias("c1"),
        F.max(F.when(F.col("y") == 2000, F.col("cents"))).alias("c2"),
    )
    lns = wide.filter((F.col("c1") > 0) & (F.col("c2") > 0)).select(
        "segment",
        "c1",
        "c2",
        F.round(
            F.log(F.col("c2").cast("double") / F.col("c1").cast("double")) * 1_000_000
        )
        .cast("long")
        .alias("ln_micro"),
    )
    return lns.select(
        "segment",
        F.col("c1").cast("long").alias("rev_1995_cents"),
        F.col("c2").cast("long").alias("rev_2000_cents"),
        "ln_micro",
        F.round(
            F.exp(F.expr("ln_micro div 5").cast("double") / 1_000_000.0) - 1.0, 6
        ).alias("cagr"),
    ).orderBy("segment")


@query(
    "adamic_adar_pairs",
    oracle="""
    WITH m AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    e0 AS (
      SELECT a.brand AS u, b.brand AS v FROM m a JOIN m b
      ON b.ok = a.ok AND a.brand < b.brand GROUP BY 1, 2
    ),
    edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
    deg AS (SELECT u AS node, count(*) AS d FROM edges GROUP BY 1),
    wgt AS (
      SELECT node, CAST(round(1000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS w
      FROM deg WHERE d >= 2
    ),
    aa AS (
      SELECT a.u AS u, b.u AS w_node, sum(wg.w) AS aa_micro, count(*) AS n_common
      FROM edges a JOIN edges b ON b.v = a.v AND a.u < b.u
      JOIN wgt wg ON wg.node = a.v
      GROUP BY 1, 2
    )
    SELECT u AS brand_a, w_node AS brand_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(aa_micro AS BIGINT) AS aa_micro
    FROM aa ORDER BY aa_micro DESC, brand_a, brand_b LIMIT 20
    """,
)
def adamic_adar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the brand co-purchase graph —
    common neighbors weighted by 1/ln(degree), the standard "will these
    two connect" score that discounts promiscuous hubs (the
    link-prediction member of the graph family, next to triangles,
    components, PageRank, HITS, LPA, BFS). Each neighbor's 1/ln(deg)
    rounds ONCE to integer micro at the NODE grain, so per-pair sums
    are exact integers. The wedge join's emission is Σ_c deg(c)² —
    bounded by the projected brand universe, never orders (the
    triangle-counting argument). Degree-1 nodes are excluded from
    weighting (ln 1 = 0 would divide by zero; they contribute no
    common-neighbor evidence anyway)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    a0 = m.select("ok", F.col("brand").alias("u"))
    b0 = m.select(F.col("ok").alias("ok_b"), F.col("brand").alias("v"))
    e0 = (
        a0.join(b0, (F.col("ok_b") == F.col("ok")) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)  # degree + both wedge arms reuse it
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    wgt = deg.filter(F.col("d") >= 2).select(
        "node",
        F.round(F.lit(1_000_000.0) / F.log(F.col("d").cast("double")))
        .cast("long")
        .alias("w"),
    )
    ea = edges.select(F.col("u").alias("ua"), F.col("v").alias("c"))
    eb = edges.select(F.col("u").alias("ub"), F.col("v").alias("cb"))
    aa = (
        ea.join(eb, (F.col("cb") == F.col("c")) & (F.col("ua") < F.col("ub")))
        .join(F.broadcast(wgt), F.col("node") == F.col("c"))
        .groupBy("ua", "ub")
        .agg(F.sum("w").alias("aa_micro"), F.count(F.lit(1)).alias("n_common"))
    )
    return (
        aa.select(
            F.col("ua").alias("brand_a"),
            F.col("ub").alias("brand_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.col("aa_micro").cast("long").alias("aa_micro"),
        )
        .orderBy(F.col("aa_micro").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@query(
    "embedding_pca_top2",
    oracle="""
    WITH dims AS (SELECT unnest(range(1, 65)) AS i),
    x AS (
      SELECT e.vec_id, d.i,
             CAST(round(CAST(e.embedding[d.i] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, dims d
    ),
    c AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS c
      FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
    ),
    v0 AS (SELECT i AS j, CAST(1000000 AS BIGINT) AS v FROM dims),
    r1 AS (SELECT c.i, sum(c.c * v0.v) AS raw FROM c JOIN v0 ON v0.j = c.j GROUP BY 1),
    m1 AS (SELECT max(abs(raw)) AS mx FROM r1),
    v1a AS (SELECT i AS j, CAST(raw * 1000000 // m.mx AS BIGINT) AS v FROM r1, m1 m),
    r2 AS (SELECT c.i, sum(c.c * v1a.v) AS raw FROM c JOIN v1a ON v1a.j = c.j GROUP BY 1),
    m2 AS (SELECT max(abs(raw)) AS mx FROM r2),
    v1 AS (SELECT i AS j, CAST(raw * 1000000 // m.mx AS BIGINT) AS v FROM r2, m2 m),
    cv AS (SELECT c.i, sum(c.c * v1.v) AS s FROM c JOIN v1 ON v1.j = c.j GROUP BY 1),
    lam AS (
      SELECT CAST(sum(CAST(cv.s AS HUGEINT) * va.v) AS HUGEINT) AS num,
             (SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) FROM v1) AS den
      FROM cv JOIN v1 va ON va.j = cv.i
    ),
    c2 AS (
      SELECT c.i, c.j,
             CAST(c.c AS HUGEINT)
             - (CAST(a.v AS HUGEINT) * CAST(b.v AS HUGEINT) * l.num) // (l.den * l.den) AS c
      FROM c JOIN v1 a ON a.j = c.i JOIN v1 b ON b.j = c.j, lam l
    ),
    r3 AS (SELECT c2.i, sum(c2.c * w0.v) AS raw FROM c2 JOIN v0 w0 ON w0.j = c2.j GROUP BY 1),
    m3 AS (SELECT max(abs(raw)) AS mx FROM r3),
    v2a AS (SELECT i AS j, CAST(raw * 1000000 // m.mx AS BIGINT) AS v FROM r3, m3 m),
    r4 AS (SELECT c2.i, sum(c2.c * v2a.v) AS raw FROM c2 JOIN v2a ON v2a.j = c2.j GROUP BY 1),
    m4 AS (SELECT max(abs(raw)) AS mx FROM r4),
    v2 AS (SELECT i AS j, CAST(raw * 1000000 // m.mx AS BIGINT) AS v FROM r4, m4 m)
    SELECT CAST(v1.j - 1 AS INT) AS dim_idx, v1.v AS pc1_micro, v2.v AS pc2_micro
    FROM v1 JOIN v2 ON v2.j = v1.j
    ORDER BY dim_idx
    """,
)
def embedding_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-2 principal directions via exact-integer power iteration
    with Hotelling deflation (operators/pca.py::
    power_iteration_deflated) — the depth extension of
    embedding_power_iteration: the dominant direction's Rayleigh
    numbers (λ_num = v₁ᵀCv₁, λ_den = v₁ᵀv₁, exact integers) deflate
    the Gram matrix with ONE truncating division per cell, and the
    second direction iterates on the deflated integer matrix. The
    oracle unrolls the whole thing — Gram, two iterations, Rayleigh,
    deflation (128-bit HUGEINT middle terms, verified truncating //),
    two more iterations — and hash-matches both loading vectors. The
    corpus-scale work is still the one-pass Gram; everything after is
    d×d."""
    from pdf_brain_spark.operators.pca import gram_matrix_int, power_iteration_deflated

    emb = load_table(spark, "embeddings", sf_dir)
    gram = gram_matrix_int(emb, dim=64)
    return power_iteration_deflated(spark, gram, dim=64, n_iter=2).orderBy("dim_idx")


@query(
    "events_unpivot_metrics",
    oracle="""
    WITH wide AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1
    )
    SELECT event_type, metric, value FROM (
      SELECT event_type, 'n_events' AS metric, n_events AS value FROM wide
      UNION ALL
      SELECT event_type, 'total_cents', total_cents FROM wide
      UNION ALL
      SELECT event_type, 'n_users', n_users FROM wide
    )
    ORDER BY event_type, metric
    """,
)
def events_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT surface (the melt half of the pivot/CUBE
    family; grouping_sets_pricing covers the other direction): per-type
    metrics computed once, then stacked to (event_type, metric, value)
    rows via Spark's stack() table-valued generator — the idiomatic
    zero-shuffle unpivot (one projection, no union-of-scans; the
    oracle's UNION ALL over a CTE is the relational spelling of the
    same thing). Long form is what metric stores and drift monitors
    ingest."""
    ev = load_table(spark, "events", sf_dir)
    wide = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("total_cents"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return (
        wide.selectExpr(
            "event_type",
            "stack(3, 'n_events', n_events, 'total_cents', total_cents,"
            " 'n_users', n_users) as (metric, value)",
        )
        .orderBy("event_type", "metric")
    )


@query(
    "data_quality_expectations",
    oracle="""
    WITH o AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_dup,
             CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                            OR o_orderdate >= TIMESTAMP '2003-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS v_enum
      FROM orders
    ),
    l AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty
      FROM lineitem
    )
    SELECT rule, n_checked, n_violations, (n_violations = 0) AS pass FROM (
      SELECT 'orders.o_orderkey not_null' AS rule, o.n AS n_checked, o.v_null AS n_violations FROM o
      UNION ALL SELECT 'orders.o_orderkey unique', o.n, o.v_dup FROM o
      UNION ALL SELECT 'orders.o_totalprice positive', o.n, o.v_price FROM o
      UNION ALL SELECT 'orders.o_orderdate in_range_1992_2003', o.n, o.v_date FROM o
      UNION ALL SELECT 'orders.o_orderstatus enum_FOP', o.n, o.v_enum FROM o
      UNION ALL SELECT 'lineitem.l_quantity between_1_50', l.n, l.v_qty FROM l
    )
    ORDER BY rule
    """,
)
def data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations report (the
    great-expectations/dbt-test pattern as an engine operator):
    not-null, uniqueness, range, enum-membership, and bounds rules
    evaluated in ONE conditional-sum aggregate pass per table — never
    one scan per rule, the difference between a contract check you run
    every load and one you run weekly at 100 TB. Uniqueness is
    count − countDistinct inside the same pass. Output is the standard
    (rule, n_checked, n_violations, pass) contract table; referential
    rules live in fk_integrity_audit."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    o = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("v_null"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("v_dup"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("v_price"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01"))
                | (F.col("o_orderdate") >= F.lit("2003-01-01")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_date"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("v_enum"),
    )
    l = li.agg(
        F.count(F.lit(1)).cast("long").alias("ln"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)
        )
        .cast("long")
        .alias("v_qty"),
    )
    rules = o.crossJoin(l).selectExpr(
        "stack(6,"
        " 'orders.o_orderkey not_null', n, v_null,"
        " 'orders.o_orderkey unique', n, v_dup,"
        " 'orders.o_totalprice positive', n, v_price,"
        " 'orders.o_orderdate in_range_1992_2003', n, v_date,"
        " 'orders.o_orderstatus enum_FOP', n, v_enum,"
        " 'lineitem.l_quantity between_1_50', ln, v_qty"
        ") as (rule, n_checked, n_violations)"
    )
    return rules.withColumn("pass", F.col("n_violations") == 0).orderBy("rule")


@query(
    "streaming_incremental_minhash",
    oracle="""
    WITH toks AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    sh AS (
      SELECT source,
             unnest(list_transform(
               range(1, greatest(len(tokens) - 1, 1)),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
      FROM toks
    ),
    ks AS (SELECT unnest(range(0, 16)) AS k),
    sig AS (
      SELECT s.source AS grp, ks.k,
             min(CAST(concat('0x', substr(md5(CAST(ks.k AS VARCHAR) || '#' || s.shingle), 1, 15)) AS BIGINT)) AS sig
      FROM sh s, ks GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.grp AS src_a, b.grp AS src_b,
             sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS matches
      FROM sig a JOIN sig b ON b.k = a.k AND a.grp < b.grp
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(matches AS BIGINT) AS matches,
           CAST(matches * 1000000 // 16 AS BIGINT) AS jaccard_est_ppm
    FROM pairs
    ORDER BY jaccard_est_ppm DESC, src_a, src_b LIMIT 50
    """,
)
def streaming_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus MinHash signatures — the partials store's first
    MIN-monoid (streaming/events.py::make_minhash_batch_fn): per-batch
    per-(source, hash-index) minimum hashes merge by elementwise MIN
    (associative, commutative, AND idempotent — the lattice meet), so
    the streamed signature, and the pairwise source-Jaccard estimates
    served from it (Broder 1997 matching-coordinate fraction), are
    bit-identical to the one-shot build the oracle replays. The
    sketch-grade answer to source_contamination_matrix's exact overlap:
    16 longs per source instead of a shingle inverted index. A real
    AvailableNow run per invocation."""
    from pdf_brain_spark.streaming.events import (
        read_minhash_similarity,
        streaming_incremental_minhash as drive_mh,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    with replayed_stream(spark, docs, F.col("doc_id") % 2 == 0) as (stream, root):
        store = f"{root}/mh"
        drive_mh(spark, stream, store, f"{root}/ckpt").awaitTermination()
        return (
            read_minhash_similarity(spark, store)
            .orderBy(F.col("jaccard_est_ppm").desc(), "src_a", "src_b")
            .limit(50)
            .localCheckpoint(eager=True)
        )


@query(
    "conversion_wilson_ci",
    oracle="""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS signed,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT CAST(sum(signed) AS BIGINT) AS n,
             CAST(sum(CASE WHEN signed = 1 AND bought = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM u
    )
    SELECT n AS n_signups, x AS n_converted,
           round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
           round(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) + 1.9208 / CAST(n AS DOUBLE)
                  - 1.96 * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                                + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_lo,
           round(((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) + 1.9208 / CAST(n AS DOUBLE)
                  + 1.96 * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                                + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_hi
    FROM c
    """,
)
def conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion rate with a Wilson 95% score interval
    — the CI that behaves at small n and extreme rates where the normal
    approximation fails (the honest way to report the funnel numbers
    events_ab_test compares). Conversion dedupes to USER grain first
    (one user = one trial). The interval is one fixed float expression
    over two exact integers with z² constants inlined (1.96² = 3.8416,
    z²/2 = 1.9208, z²/4 = 0.9604) in the identical op order on both
    engines, rounded once to 6dp — the established float policy."""
    ev = load_table(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("signed"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("bought"),
    )
    c = u.agg(
        F.sum("signed").cast("long").alias("n"),
        F.sum(
            F.when((F.col("signed") == 1) & (F.col("bought") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("x"),
    )
    nd = F.col("n").cast("double")
    xd = F.col("x").cast("double")
    p = xd / nd
    rad = F.sqrt(p * (1.0 - p) / nd + 0.9604 / (nd * nd))
    denom = 1.0 + 3.8416 / nd
    return c.select(
        F.col("n").alias("n_signups"),
        F.col("x").alias("n_converted"),
        F.round(p, 6).alias("p_hat"),
        F.round((p + 1.9208 / nd - 1.96 * rad) / denom, 6).alias("wilson_lo"),
        F.round((p + 1.9208 / nd + 1.96 * rad) / denom, 6).alias("wilson_hi"),
    )


@query(
    "conversion_latency_quantiles",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    p AS (
      SELECT s.user_id,
             min(e.ts) AS p_ts
      FROM s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts >= s.s_ts
      GROUP BY 1
    ),
    lat AS (
      SELECT p.user_id,
             (epoch_us(p.p_ts) - epoch_us(s.s_ts)) // 60000000 AS mins
      FROM p JOIN s ON s.user_id = p.user_id
    ),
    hist AS (SELECT mins, count(*) AS n FROM lat GROUP BY 1),
    cum AS (
      SELECT mins, n, sum(n) OVER (ORDER BY mins) AS k FROM hist
    ),
    tot AS (SELECT sum(n) AS total FROM hist)
    SELECT CAST(t.total AS BIGINT) AS n_converters,
           CAST(min(CASE WHEN c.k * 2 >= t.total THEN c.mins END) AS BIGINT) AS median_mins,
           CAST(min(CASE WHEN c.k * 10 >= t.total * 9 THEN c.mins END) AS BIGINT) AS p90_mins,
           CAST(min(CASE WHEN c.k * 100 >= t.total * 99 THEN c.mins END) AS BIGINT) AS p99_mins
    FROM cum c, tot t GROUP BY t.total
    """,
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion-latency quantiles — "how long until
    users convert" (the funnel-latency member of the W5 percentile
    family): per-user FIRST signup, FIRST purchase at-or-after it,
    latency floored to exact integer minutes, and median/p90/p99
    selected by integer rank straddle over the minute histogram (the
    events_anomaly_mad cumulative-histogram idiom — k·q ≥ total·(q−1)
    comparisons, no float rank fractions anywhere). Plan: two user-
    grain aggregates, one user-keyed range join, then quantile work on
    the minute axis via the STITCHED two-level scan
    (operators/stitched.py, r12) — distributed intra-bucket sums, one
    guarded domain/4096 bucket-carry frame; the DuckDB oracle keeps the
    global-window CDF and re-proves the scan every round."""
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    ev = load_table(spark, "events", sf_dir)
    s = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("s_ts")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"), F.first("s_ts").alias("s_ts2"))
    )
    lat = p.select(
        F.expr("(unix_micros(p_ts) - unix_micros(s_ts2)) div 60000000").alias("mins")
    )
    hist = lat.groupBy("mins").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    cum = stitched_prefix_sums(
        hist, "mins", ["n"], what="conversion-latency minute-histogram axis"
    ).select("mins", F.col("n_cum").alias("k"))
    tot = hist.agg(F.sum("n").alias("total"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.first("total").cast("long").alias("n_converters"),
            F.min(F.when(F.col("k") * 2 >= F.col("total"), F.col("mins")))
            .cast("long")
            .alias("median_mins"),
            F.min(F.when(F.col("k") * 10 >= F.col("total") * 9, F.col("mins")))
            .cast("long")
            .alias("p90_mins"),
            F.min(F.when(F.col("k") * 100 >= F.col("total") * 99, F.col("mins")))
            .cast("long")
            .alias("p99_mins"),
        )
        # zero converters: the oracle's GROUP BY emits no row; Spark's
        # ungrouped agg emits one all-null row — drop it for parity
        # (the retention_decay_fit degenerate-input lesson)
        .filter(F.col("n_converters").isNotNull())
    )


@query(
    "events_seasonal_anomalies",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT dow, hod,
             CAST(sum(cents) // count(*) AS BIGINT) AS baseline_cents,
             count(*) AS n_weeks
      FROM hourly GROUP BY 1, 2
    )
    SELECT h.hr AS hour_start, CAST(h.dow AS BIGINT) AS dow,
           CAST(h.hod AS BIGINT) AS hod,
           CAST(h.cents AS BIGINT) AS cents,
           b.baseline_cents,
           CAST(abs(h.cents - b.baseline_cents) AS BIGINT) AS abs_residual_cents
    FROM hourly h JOIN base b ON b.dow = h.dow AND b.hod = h.hod
    ORDER BY abs(h.cents - b.baseline_cents) DESC, h.hr ASC LIMIT 10
    """,
)
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection — the composition the raw
    anomaly gates (count z-scores, MAD outliers) cannot do alone: each
    hour's revenue compares against ITS OWN calendar cell's mean
    (dow × hour-of-day baseline, the events_hourly_seasonality matrix
    put to work), so a busy Monday 9am is only anomalous relative to
    other Monday 9ams. Baselines are integer floor means, residuals
    exact integer cents; top-10 by absolute residual with a time
    tie-break. One hour-grain aggregate + a broadcast 168-cell baseline
    join. The dow convention bridges per engine as in the seasonality
    gate."""
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    ).localCheckpoint(eager=True)  # baseline + the residual join reuse it
    base = hourly.groupBy("dow", "hod").agg(
        F.expr("sum(cents) div count(1)").cast("long").alias("baseline_cents")
    )
    return (
        hourly.join(F.broadcast(base), ["dow", "hod"])
        .select(
            F.col("hr").alias("hour_start"),
            "dow",
            "hod",
            F.col("cents").cast("long").alias("cents"),
            "baseline_cents",
            F.abs(F.col("cents") - F.col("baseline_cents"))
            .cast("long")
            .alias("abs_residual_cents"),
        )
        .orderBy(F.col("abs_residual_cents").desc(), F.col("hour_start").asc())
        .limit(10)
    )


@query(
    "heaps_law_fit",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    m0 AS (
      SELECT source, count(*) AS n_tokens, count(DISTINCT term) AS vocab
      FROM toks GROUP BY 1
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM m0
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_sources,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS heaps_beta,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS heaps_intercept
    FROM m
    """,
)
def heaps_law_fit(
    spark: SparkSession, sf_dir: str, shared_counts: DataFrame | None = None
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit — log(vocab) vs log(tokens)
    across sources (natural text grows vocabulary at β ≈ 0.4–0.6;
    templated or deduplicated-to-death corpora fall out of that band —
    the companion corpus-authenticity diagnostic to zipf_fit_report,
    and the pair is what training-data QA actually plots). One
    (source, term) aggregate, 20 integer micro-nat points, the shared
    OLS closed form (regression_fit_exprs)."""
    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.streaming.events import regression_fit_exprs

    # r16 A/B: spread_scan here measured +0.31 s (0.64→0.95 warm min) —
    # reverted (tokenize-only chain; see OPTIMIZATION_r16.md).
    # r17: from `shared_counts` (suite_term_stats shared (source, term,
    # c)): n_tokens = Σc per source, vocab = row count per source —
    # exact integer identities of the exploded aggregate.
    if shared_counts is not None:
        m0 = shared_counts.groupBy("source").agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
        )
    else:
        docs = load_table(spark, "documents", sf_dir)
        m0 = (
            docs.select("source", F.explode(tokenize("text")).alias("term"))
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.countDistinct("term").alias("vocab"),
            )
        )
    pts = m0.select(
        F.round(F.log(F.col("n_tokens").cast("double")) * 1_000_000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("vocab").cast("double")) * 1_000_000)
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    slope, intercept = regression_fit_exprs("heaps_beta", "heaps_intercept")
    return m.select(F.col("n").alias("n_sources"), slope, intercept)


@query(
    "decision_stump_fit",
    oracle="""
    WITH d AS (
      SELECT n_chars AS x, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p FROM d),
    vals AS (SELECT x, count(*) AS cnt, sum(y) AS pos FROM d GROUP BY 1),
    cum AS (
      SELECT x,
             sum(cnt) OVER (ORDER BY x) AS n_t,
             sum(pos) OVER (ORDER BY x) AS p_t
      FROM vals
    ),
    scored AS (
      SELECT c.x AS threshold,
             c.p_t + ((t.n - c.n_t) - (t.p - c.p_t)) AS correct_le_en,
             (c.n_t - c.p_t) + (t.p - c.p_t) AS correct_le_other,
             t.n, t.p
      FROM cum c, tot t
    ),
    best AS (
      SELECT threshold,
             CASE WHEN correct_le_en >= correct_le_other THEN 'le_en' ELSE 'le_other' END AS direction,
             greatest(correct_le_en, correct_le_other) AS n_correct,
             n, p
      FROM scored
      ORDER BY greatest(correct_le_en, correct_le_other) DESC, threshold ASC
      LIMIT 1
    )
    SELECT CAST(threshold AS BIGINT) AS threshold, direction,
           CAST(n_correct AS BIGINT) AS n_correct, CAST(n AS BIGINT) AS n_total,
           CAST(n_correct * 1000000 // n AS BIGINT) AS accuracy_ppm,
           CAST(greatest(p, n - p) * 1000000 // n AS BIGINT) AS baseline_ppm
    FROM best
    """,
)
def decision_stump_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-stump TRAINING as a relational plan — the
    simplest real model fit made fully SQL-oracle-able: the best
    single-threshold classifier (predicting lang='en' from document
    length) by exhaustive threshold search with an INTEGER
    misclassification objective (correct-count maximization; both
    split directions scored from one cumulative pass), deterministic
    smallest-threshold tie-break, and the majority baseline reported
    alongside. The candidate set is the DISTINCT-VALUE axis — one
    value-grain aggregate + the STITCHED two-level scan
    (operators/stitched.py, r12 — distributed intra-bucket sums, one
    guarded domain/4096 bucket-carry frame; the DuckDB oracle keeps the
    global-window form) + a 1-row TakeOrdered, never a per-row ×
    per-threshold cross product (the same axis-quadratic-not-data
    argument as Theil-Sen). Length is a deliberately weak predictor of
    language here; the gate certifies the TRAINER's arithmetic, and the
    planted pytest certifies it finds a real split when one exists."""
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        F.col("n_chars").alias("x"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    vals = d.groupBy("x").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    ).localCheckpoint(eager=True)  # totals + the cumulative window reuse it
    tot = vals.agg(
        F.sum("cnt").cast("long").alias("n"), F.sum("pos").cast("long").alias("p")
    )
    cum = stitched_prefix_sums(
        vals, "x", ["cnt", "pos"],
        what="decision-stump distinct-threshold axis",
    ).select(
        "x",
        F.col("cnt_cum").alias("n_t"),
        F.col("pos_cum").alias("p_t"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        F.col("x").alias("threshold"),
        (F.col("p_t") + ((F.col("n") - F.col("n_t")) - (F.col("p") - F.col("p_t"))))
        .alias("correct_le_en"),
        ((F.col("n_t") - F.col("p_t")) + (F.col("p") - F.col("p_t")))
        .alias("correct_le_other"),
        "n",
        "p",
    )
    best = (
        scored.withColumn(
            "n_correct", F.greatest("correct_le_en", "correct_le_other")
        )
        .orderBy(F.col("n_correct").desc(), F.col("threshold").asc())
        .limit(1)
    )
    return best.select(
        F.col("threshold").cast("long").alias("threshold"),
        F.when(
            F.col("correct_le_en") >= F.col("correct_le_other"), "le_en"
        )
        .otherwise("le_other")
        .alias("direction"),
        F.col("n_correct").cast("long").alias("n_correct"),
        F.col("n").cast("long").alias("n_total"),
        F.expr("(n_correct * 1000000) div n").alias("accuracy_ppm"),
        F.expr("(greatest(p, n - p) * 1000000) div n").alias("baseline_ppm"),
    )


@query(
    "basket_rules_confidence",
    oracle="""
    WITH m AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    item AS (SELECT brand, count(*) AS sup FROM m GROUP BY 1),
    pair AS (
      SELECT a.brand AS ba, b.brand AS bb, count(*) AS sup_ab
      FROM m a JOIN m b ON b.ok = a.ok AND a.brand <> b.brand
      GROUP BY 1, 2
    )
    SELECT p.ba AS antecedent, p.bb AS consequent,
           CAST(p.sup_ab AS BIGINT) AS support_ab,
           CAST(i.sup AS BIGINT) AS support_a,
           CAST(p.sup_ab * 1000000 // i.sup AS BIGINT) AS confidence_ppm
    FROM pair p JOIN item i ON i.brand = p.ba
    WHERE p.sup_ab >= 5
    ORDER BY confidence_ppm DESC, antecedent, consequent LIMIT 20
    """,
)
def basket_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules a→b with exact ppm confidence
    (support(ab)/support(a)) — the asymmetric complement of
    market_basket_lift's symmetric score: lift says the pair
    co-occurs; confidence says which direction a recommendation should
    fire. DISTINCT-membership projection before the self-join bounds
    fan-out at the brand universe; a support floor gates the ranked
    rules."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint(eager=True)  # item supports + both pair arms reuse it
    )
    item = m.groupBy("brand").agg(F.count(F.lit(1)).alias("sup"))
    a = m.select("ok", F.col("brand").alias("ba"))
    b = m.select(F.col("ok").alias("ok_b"), F.col("brand").alias("bb"))
    pair = (
        a.join(b, (F.col("ok_b") == F.col("ok")) & (F.col("ba") != F.col("bb")))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("sup_ab"))
    )
    return (
        pair.filter(F.col("sup_ab") >= 5)
        .join(F.broadcast(item.select(F.col("brand").alias("ba"), "sup")), "ba")
        .select(
            F.col("ba").alias("antecedent"),
            F.col("bb").alias("consequent"),
            F.col("sup_ab").cast("long").alias("support_ab"),
            F.col("sup").cast("long").alias("support_a"),
            F.expr("(sup_ab * 1000000) div sup").alias("confidence_ppm"),
        )
        .orderBy(F.col("confidence_ppm").desc(), "antecedent", "consequent")
        .limit(20)
    )


@query(
    "naive_bayes_lang_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
    test AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
    vocab AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM train),
    langs AS (SELECT DISTINCT lang FROM (SELECT lang FROM documents WHERE doc_id % 2 = 0)),
    ndocs AS (
      SELECT lang, count(*) AS d FROM (
        SELECT DISTINCT doc_id, lang FROM documents WHERE doc_id % 2 = 0
      ) GROUP BY 1
    ),
    dtot AS (SELECT sum(d) AS dt FROM ndocs),
    prior AS (
      SELECT n.lang,
             CAST(round(ln(CAST(n.d AS DOUBLE) / t.dt) * 1000000) AS BIGINT) AS prior_micro
      FROM ndocs n, dtot t
    ),
    ntok AS (SELECT lang, count(*) AS nl FROM train GROUP BY 1),
    ll AS (
      SELECT tr.lang, tr.term,
             CAST(round(ln(CAST(count(*) + 1 AS DOUBLE) / (any_value(nt.nl) + any_value(vb.v))) * 1000000) AS BIGINT) AS ll_micro
      FROM train tr JOIN ntok nt ON nt.lang = tr.lang, vocab vb
      GROUP BY tr.lang, tr.term
    ),
    dflt AS (
      SELECT nt.lang,
             CAST(round(ln(1.0 / (nt.nl + vb.v)) * 1000000) AS BIGINT) AS dflt_micro
      FROM ntok nt, vocab vb
    ),
    scored AS (
      SELECT te.doc_id, te.lang AS true_lang, lg.lang AS cand,
             any_value(p.prior_micro) + sum(COALESCE(l.ll_micro, d.dflt_micro)) AS score
      FROM test te
      JOIN langs lg ON TRUE
      LEFT JOIN ll l ON l.lang = lg.lang AND l.term = te.term
      JOIN dflt d ON d.lang = lg.lang
      JOIN prior p ON p.lang = lg.lang
      GROUP BY te.doc_id, te.lang, lg.lang
    ),
    pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
      FROM scored
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def naive_bayes_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language identification — a REAL
    classifier trained AND applied as relational plans, end to end
    exact: add-one-smoothed per-(term, lang) log-likelihoods and
    log-priors quantize ONCE to integer micro-nats (the perplexity/JSD
    discipline), per-document class scores are integer sums, and the
    argmax breaks ties by language — so the confusion matrix over the
    held-out half hash-matches the SQL twin, including every document
    the model gets wrong. Train plan: one (term, lang) count shuffle +
    tiny broadcast stats; apply plan: the LM broadcast onto the test
    token stream (vocabulary-bounded, the unigram_perplexity caveat),
    one doc×lang aggregate, one per-doc argmax window. The train/test
    split is the portable even/odd key split."""
    from pdf_brain_spark.functions.text import tokenize
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", "lang", F.explode(tokenize("text")).alias("term")
    ).localCheckpoint(eager=True)  # train stats + the test stream reuse it
    train = toks.filter(F.col("doc_id") % 2 == 0)
    test = toks.filter(F.col("doc_id") % 2 == 1)
    v = train.select("term").distinct().count()
    ndocs = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("d"))
    )
    dtot = ndocs.agg(F.sum("d").alias("dt"))
    prior = ndocs.crossJoin(F.broadcast(dtot)).select(
        "lang",
        F.round(F.log(F.col("d").cast("double") / F.col("dt").cast("double")) * 1_000_000)
        .cast("long")
        .alias("prior_micro"),
    )
    ntok = train.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    ll = (
        train.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(F.broadcast(ntok), "lang")
        .select(
            "lang",
            "term",
            F.round(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("nl") + F.lit(v)).cast("double")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("ll_micro"),
        )
    )
    dflt = ntok.select(
        "lang",
        F.round(
            F.log(F.lit(1.0) / (F.col("nl") + F.lit(v)).cast("double")) * 1_000_000
        )
        .cast("long")
        .alias("dflt_micro"),
    )
    langs = ndocs.select(F.col("lang").alias("cand"))
    cand = (
        test.crossJoin(F.broadcast(langs))
        .join(
            F.broadcast(ll.select(F.col("lang").alias("cand"), "term", "ll_micro")),
            ["cand", "term"],
            "left",
        )
        .join(F.broadcast(dflt.select(F.col("lang").alias("cand"), "dflt_micro")), "cand")
        .join(F.broadcast(prior.select(F.col("lang").alias("cand"), "prior_micro")), "cand")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand")
        .agg(
            (
                F.first("prior_micro")
                + F.sum(F.coalesce("ll_micro", "dflt_micro"))
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand").asc())
    pred = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pred.groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


@query(
    "knn_label_eval",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS true_label
      FROM embeddings WHERE vec_id < 64
    ),
    train AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 64),
    scored AS (
      SELECT q.qid, q.true_label, t.vec_id, t.label,
             (1.0 - list_sum(list_transform(list_zip(t.embedding, q.qv),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS d
      FROM train t, q
    ),
    top5 AS (
      SELECT qid, true_label, label FROM (
        SELECT qid, true_label, label,
               row_number() OVER (PARTITION BY qid ORDER BY d ASC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT qid, true_label, label AS cand, count(*) AS c
      FROM top5 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT qid, true_label, cand AS pred_label FROM (
        SELECT qid, true_label, cand,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, cand ASC) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT CAST(true_label AS INT) AS true_label,
           CAST(pred_label AS INT) AS pred_label,
           CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification evaluation — majority label of the 5 nearest
    training vectors per held-out query, with deterministic tie rules
    at BOTH stages (distance then vec_id for the neighbor cut; vote
    count then smallest label for the majority), so the confusion
    matrix hash-matches the SQL twin. The lazy-learning complement of
    naive_bayes_lang_id's parametric fit, and the evaluation loop every
    embedding-quality claim in this engine ultimately answers to. Plan:
    one train×64 broadcast score pass (checkpointed), two bounded
    windows."""
    from pdf_brain_spark.functions.vector import cosine_distance
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    train = emb.filter(F.col("vec_id") >= 64)
    scored = (
        train.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "true_label",
            "vec_id",
            "label",
            cosine_distance("embedding", "qv").alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("vec_id").asc())
    top5 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top5.groupBy("qid", "true_label", F.col("label").alias("cand")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("cand").asc())
    pred = votes.withColumn("rn", F.row_number().over(wv)).filter(F.col("rn") == 1)
    return (
        pred.groupBy(
            F.col("true_label").cast("int").alias("true_label"),
            F.col("cand").cast("int").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_label", "pred_label")
    )


@query(
    "shipping_sla_report",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS fs FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN f.fs <= o.o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_met,
           CAST(sum(CASE WHEN f.fs <= o.o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS sla_ppm
    FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def shipping_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping SLA attainment per order priority — the fraction of
    orders whose FIRST lineitem shipped within 30 days, in exact ppm
    (the service-level complement of the latency percentiles W5
    serves). One orderkey-grain min over the fact, one orderkey
    shuffle to orders, one bounded-group aggregate with exact date
    interval comparisons."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("fs"))
    met = F.when(
        F.col("fs") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"), 1
    ).otherwise(0)
    return (
        orders.join(first_ship, orders.o_orderkey == first_ship.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(met).cast("long").alias("n_met"),
        )
        .withColumn("sla_ppm", F.expr("(n_met * 1000000) div n_orders"))
        .orderBy("priority")
    )


@query(
    "dedup_threshold_curve",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '') AS tokens
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(tokens) - 1, 1)),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))) AS shingle
      FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(DISTINCT doc_id) <= 512
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY 1, 2
    ),
    banded AS (
      SELECT (i.i * 10) // (sa.set_size + sb.set_size - i.i) AS band
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT CAST(band AS BIGINT) AS jaccard_band, CAST(count(*) AS BIGINT) AS n_pairs
    FROM banded GROUP BY 1 ORDER BY 1
    """,
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold operating curve — how many candidate pairs each
    Jaccard band contains (band = ⌊10·J⌋, computed as the EXACT integer
    (10·∩) // ∪ so no float similarity can straddle a band boundary) —
    the evidence behind choosing the dedup family's 0.08/0.2/0.8
    thresholds: the curve shows where the pair volume cliff sits before
    you commit a corpus-wide cut. Same DF-capped inverted-index shape
    as dedup_ngram_jaccard (one shingle shuffle, zero all-pairs), one
    extra band aggregate."""
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokenize_sql("text"), 3))).alias("shingle"),
    ).localCheckpoint(eager=True)  # sizes, the DF cap, and both join arms reuse it
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    kept = (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 512)
        .select("shingle")
    )
    a = sh.join(kept, "shingle").select("shingle", F.col("doc_id").alias("doc_a"))
    b = sh.select(F.col("shingle").alias("sh_b"), F.col("doc_id").alias("doc_b"))
    inter = (
        a.join(b, (F.col("sh_b") == F.col("shingle")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("szb"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(F.expr("(i * 10) div (sza + szb - i)").alias("jaccard_band"))
        .groupBy("jaccard_band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("jaccard_band")
    )


@query(
    "holt_linear_forecast",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY d) - 1 AS idx,
             cents
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS d,
               sum(CAST(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY 1, 2
      )
    ),
    rec AS (
      SELECT event_type, idx, CAST(cents * 1000 AS BIGINT) AS l, CAST(0 AS BIGINT) AS b
      FROM daily WHERE idx = 0
      UNION ALL
      SELECT d.event_type, d.idx,
             (d.cents * 1000 + r.l + r.b) >> 1 AS l,
             r.b + ((((d.cents * 1000 + r.l + r.b) >> 1) - r.l - r.b) >> 2) AS b
      FROM rec r JOIN daily d
        ON d.event_type = r.event_type AND d.idx = r.idx + 1
    ),
    last_ AS (
      SELECT event_type, max(idx) AS mx FROM rec GROUP BY 1
    )
    SELECT r.event_type, CAST(l.mx + 1 AS BIGINT) AS n_points,
           r.l AS level_milli, r.b AS trend_milli,
           CAST(r.l + 7 * r.b AS BIGINT) AS forecast7_milli
    FROM rec r JOIN last_ l ON l.event_type = r.event_type AND r.idx = l.mx
    ORDER BY r.event_type
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecasting over the daily revenue series —
    level AND slope tracked by exact dyadic-integer recursions
    (operators/temporal.py::holt_linear; alpha=1/2, beta=1/4 as
    arithmetic shifts, the EWMA/CUSUM discipline one order up), with a
    7-day-ahead linear extrapolation. The recursion never touches a
    float, so the oracle's recursive CTE replays the entire smoothing
    history bit for bit — forecasting with a provably identical model
    state on both engines. One day-grain aggregate, one JVM-side fold
    per bounded series."""
    from pdf_brain_spark.operators.temporal import holt_linear

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    fit = holt_linear(daily, "event_type", "d", "cents", scale=1000)
    return fit.select(
        "event_type",
        "n_points",
        "level_milli",
        "trend_milli",
        (F.col("level_milli") + 7 * F.col("trend_milli"))
        .cast("long")
        .alias("forecast7_milli"),
    ).orderBy("event_type")


@query(
    "churn_feature_matrix",
    oracle="""
    WITH mx AS (SELECT max(ts) AS mxts FROM events),
    u AS (
      SELECT e.user_id,
             CAST((epoch_us(m.mxts) - epoch_us(max(e.ts))) // 86400000000 AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CASE WHEN e.event_type = 'purchase'
                           THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS monetary_cents,
             CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_event_types,
             CAST(sum(CASE WHEN dayofweek(e.ts) IN (0, 6) THEN 1 ELSE 0 END) * 1000000
                  // count(*) AS BIGINT) AS weekend_ppm
      FROM events e, mx m
      GROUP BY e.user_id, m.mxts
    )
    SELECT user_id, recency_days, frequency, monetary_cents, n_event_types,
           weekend_ppm,
           (recency_days >= 7) AS churned
    FROM u ORDER BY user_id LIMIT 100
    """,
)
def churn_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set ASSEMBLY for churn prediction — the feature-
    engineering operator every model pipeline starts with: per-user
    recency (exact day floor from the corpus horizon), frequency,
    monetary (integer cents), behavioral diversity, and weekend-share
    ppm, plus the 7-day-inactivity churn label — every feature exact
    integer, so the matrix a trainer consumes is bit-identical on any
    engine (label/feature skew between engines is a real MLOps bug
    class; this gate makes it structurally impossible here). One
    user-grain aggregate + a broadcast horizon. DuckDB's 0-based
    dayofweek makes weekend {0,6} vs Spark's {1,7} — bridged per
    engine, the seasonality-gate lesson."""
    ev = load_table(spark, "events", sf_dir)
    mx = ev.agg(F.max("ts").alias("mxts"))
    u = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.expr(
                "(unix_micros(first(mxts)) - unix_micros(max(ts))) div 86400000000"
            )
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("monetary_cents"),
            F.countDistinct("event_type").cast("long").alias("n_event_types"),
            F.expr(
                "(sum(CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END)"
                " * 1000000) div count(1)"
            )
            .cast("long")
            .alias("weekend_ppm"),
        )
    )
    return (
        u.select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_cents",
            "n_event_types",
            "weekend_ppm",
            (F.col("recency_days") >= 7).alias("churned"),
        )
        .orderBy("user_id")
        .limit(100)
    )


@query(
    "temperature_sampling_weights",
    oracle="""
    WITH m AS (
      SELECT source,
             sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> ''))) AS n_tokens
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT sum(n_tokens) AS total FROM m),
    w AS (
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_tokens * 1000000 // t.total AS BIGINT) AS share_ppm,
             CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / t.total) * 1000000) AS BIGINT) AS raw_micro
      FROM m, tot t
    ),
    s AS (SELECT sum(raw_micro) AS sw FROM w)
    SELECT w.source, w.n_tokens, w.share_ppm,
           CAST(w.raw_micro * 1000000 // s.sw AS BIGINT) AS weight_ppm
    FROM w, s ORDER BY w.source
    """,
)
def temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling weights at T = 2 (Conneau &
    Lample 2019: sample sources ∝ share^(1/T), the standard fix for
    low-resource starvation in multilingual/multi-source training —
    the continuous complement of lang_rebalance_plan's integer epoch
    factors). Each source's sqrt-share rounds ONCE to integer micro,
    normalization is floor ppm over the integer weights, so the
    sampling table is engine-exact. One token-count aggregate over the
    bounded source grid."""
    from pdf_brain_spark.functions.text import token_count

    docs = load_table(spark, "documents", sf_dir)
    m = docs.groupBy("source").agg(F.sum(token_count("text")).alias("n_tokens"))
    tot = m.agg(F.sum("n_tokens").alias("total"))
    w = m.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr("(n_tokens * 1000000) div total").alias("share_ppm"),
        F.round(
            F.sqrt(F.col("n_tokens").cast("double") / F.col("total").cast("double"))
            * 1_000_000
        )
        .cast("long")
        .alias("raw_micro"),
    ).localCheckpoint(eager=True)  # the normalizer reuses it
    s = w.agg(F.sum("raw_micro").alias("sw"))
    return (
        w.crossJoin(F.broadcast(s))
        .select(
            "source",
            "n_tokens",
            "share_ppm",
            F.expr("(raw_micro * 1000000) div sw").alias("weight_ppm"),
        )
        .orderBy("source")
    )


@query(
    "embedding_drift_report",
    oracle="""
    WITH dims AS (SELECT unnest(range(1, 65)) AS i),
    x AS (
      SELECT e.vec_id % 2 AS half, d.i,
             CAST(round(CAST(e.embedding[d.i] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, dims d
    ),
    cent AS (
      SELECT half, i, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
      FROM x GROUP BY 1, 2
    ),
    wide AS (
      SELECT a.i, a.s AS sa, b.s AS sb
      FROM cent a JOIN cent b ON b.i = a.i AND a.half = 0 AND b.half = 1
    ),
    dots AS (
      SELECT CAST(sum(sa * sb) AS BIGINT) AS ab,
             CAST(sum(sa * sa) AS BIGINT) AS aa,
             CAST(sum(sb * sb) AS BIGINT) AS bb
      FROM wide
    ),
    counts AS (
      SELECT CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM (SELECT DISTINCT vec_id, vec_id % 2 AS half FROM embeddings)
    )
    SELECT c.n_a, c.n_b,
           round(CAST(d.ab AS DOUBLE) / (sqrt(CAST(d.aa AS DOUBLE)) * sqrt(CAST(d.bb AS DOUBLE))), 6) AS centroid_cos,
           round(sqrt(CAST(d.aa AS DOUBLE)) * c.n_b / (sqrt(CAST(d.bb AS DOUBLE)) * c.n_a), 6) AS norm_ratio
    FROM dots d, counts c
    """,
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution drift between two corpus halves — the
    centroid-level canary for "did the embedding model or the data
    change under me" (ML-ops complement of psi_drift_report's scalar
    PSI): components quantize once to integer milli, per-half per-dim
    SUMS are exact integers, and the centroid cosine / norm ratio are
    single float expressions over those exact sums (mean factors
    cancel in the cosine; the norm ratio reintroduces the counts).
    One (half, dim) aggregate — the Gram-pass shape at vector grain."""
    emb = load_table(spark, "embeddings", sf_dir)
    x = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("i", "raw"),
    ).select(
        "half",
        "i",
        F.round(F.col("raw").cast("double") * 1000).cast("long").alias("v"),
    )
    cent = x.groupBy("half", "i").agg(F.sum("v").alias("s"))
    a = cent.filter(F.col("half") == 0).select("i", F.col("s").alias("sa"))
    b = cent.filter(F.col("half") == 1).select(
        F.col("i").alias("ib"), F.col("s").alias("sb")
    )
    dots = (
        a.join(b, F.col("ib") == F.col("i"))
        .agg(
            F.sum(F.col("sa") * F.col("sb")).cast("long").alias("ab"),
            F.sum(F.col("sa") * F.col("sa")).cast("long").alias("aa"),
            F.sum(F.col("sb") * F.col("sb")).cast("long").alias("bb"),
        )
    )
    counts = emb.select(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    return dots.crossJoin(F.broadcast(counts)).select(
        "n_a",
        "n_b",
        F.round(
            F.col("ab").cast("double")
            / (F.sqrt(F.col("aa").cast("double")) * F.sqrt(F.col("bb").cast("double"))),
            6,
        ).alias("centroid_cos"),
        F.round(
            F.sqrt(F.col("aa").cast("double"))
            * F.col("n_b")
            / (F.sqrt(F.col("bb").cast("double")) * F.col("n_a")),
            6,
        ).alias("norm_ratio"),
    )


@query(
    "distinctive_terms_logodds",
    oracle="""
    WITH toks AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS grp,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    cnt AS (SELECT grp, term, count(*) AS c FROM toks GROUP BY 1, 2),
    tot AS (SELECT grp, sum(c) AS n FROM cnt GROUP BY 1),
    vocab AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM cnt),
    wide AS (
      SELECT t.term,
             COALESCE(max(CASE WHEN c.grp = 0 THEN c.c END), 0) AS ca,
             COALESCE(max(CASE WHEN c.grp = 1 THEN c.c END), 0) AS cb
      FROM (SELECT DISTINCT term FROM cnt) t
      LEFT JOIN cnt c ON c.term = t.term
      GROUP BY 1
    ),
    scored AS (
      SELECT w.term, CAST(w.ca AS BIGINT) AS count_a, CAST(w.cb AS BIGINT) AS count_b,
             CAST(round((ln((w.ca + 1.0) / (ta.n + vb.v - w.ca - 1.0))
                         - ln((w.cb + 1.0) / (tb.n + vb.v - w.cb - 1.0))) * 1000000) AS BIGINT) AS delta_micro
      FROM wide w, vocab vb,
           (SELECT n FROM tot WHERE grp = 0) ta,
           (SELECT n FROM tot WHERE grp = 1) tb
    )
    SELECT term, count_a, count_b, delta_micro
    FROM scored ORDER BY abs(delta_micro) DESC, term ASC LIMIT 20
    """,
)
def distinctive_terms_logodds(
    spark: SparkSession, sf_dir: str, shared_toks: DataFrame | None = None
) -> DataFrame:
    """Distinctive vocabulary by log-odds ratio with a symmetric
    Dirichlet prior (the Monroe, Colaresi & Quinn 2008 "Fightin'
    Words" estimator, alpha = 1) between two corpus halves — which
    terms BELONG to one slice, the lexical diagnostic raw frequency
    diffs get wrong for common words. Each term's delta quantizes ONCE
    to integer micro (one fixed float expression over exact counts),
    ranked by magnitude with a term tie-break. One term-count shuffle
    over the bounded (group × vocab) grid; the variance/z step of the
    full estimator is omitted (documented) — the point estimate is the
    ranking key."""
    from pdf_brain_spark.functions.text import tokenize

    # r16 A/B: spread_scan here measured +0.28 s (0.90→1.18 warm min) —
    # reverted (tokenize-only chain; see OPTIMIZATION_r16.md).
    # r17: `shared_toks` (suite_term_stats shared token arrays) carries
    # doc_id, so the parity split reads the checkpoint, not the corpus.
    if shared_toks is not None:
        toks = shared_toks.select(
            (F.col("doc_id") % 2).alias("grp"), F.explode("_toks").alias("term")
        )
    else:
        docs = load_table(spark, "documents", sf_dir)
        toks = docs.select(
            (F.col("doc_id") % 2).alias("grp"), F.explode(tokenize("text")).alias("term")
        )
    cnt = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("c"))
    cnt = cnt.localCheckpoint(eager=True)  # totals, vocab, and the pivot reuse it
    tot = cnt.groupBy("grp").agg(F.sum("c").alias("n"))
    v = cnt.select("term").distinct().count()
    na = tot.filter(F.col("grp") == 0).select(F.col("n").alias("na"))
    nb = tot.filter(F.col("grp") == 1).select(F.col("n").alias("nb"))
    wide = cnt.groupBy("term").agg(
        F.coalesce(F.max(F.when(F.col("grp") == 0, F.col("c"))), F.lit(0)).alias("ca"),
        F.coalesce(F.max(F.when(F.col("grp") == 1, F.col("c"))), F.lit(0)).alias("cb"),
    )
    scored = (
        wide.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "term",
            F.col("ca").cast("long").alias("count_a"),
            F.col("cb").cast("long").alias("count_b"),
            F.round(
                (
                    F.log(
                        (F.col("ca") + 1.0)
                        / (F.col("na") + F.lit(v) - F.col("ca") - 1.0)
                    )
                    - F.log(
                        (F.col("cb") + 1.0)
                        / (F.col("nb") + F.lit(v) - F.col("cb") - 1.0)
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("delta_micro"),
        )
    )
    return scored.orderBy(
        F.abs(F.col("delta_micro")).desc(), F.col("term").asc()
    ).limit(20)


@query(
    "retention_decay_fit",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT e.user_id,
             datediff('day', f.d0, CAST(e.ts AS DATE)) // 7 AS week_off
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    ),
    base AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM firsts),
    weekly AS (
      SELECT week_off, count(*) AS active FROM act
      WHERE week_off >= 1 GROUP BY 1
    ),
    pts AS (
      SELECT CAST(w.week_off * 1000000 AS BIGINT) AS x,
             CAST(round(ln(CAST(w.active AS DOUBLE) / b.n0) * 1000000) AS BIGINT) AS y
      FROM weekly w, base b
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_weeks,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS weekly_decay,
           round(-0.6931471805599453
                 / (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS half_life_weeks
    FROM m
    WHERE n >= 2 AND (n * sxx - sx * sx) <> 0 AND (n * sxy - sx * sy) <> 0
    """,
)
def retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life — fit ln(retention) against week-of-life by
    the shared exact-moment OLS (regression over integer micro-nat
    points: x = week·1e6, y = ln(active/cohort) rounded once) and
    derive the half-life as ln2/|slope| — the single number product
    teams quote from the retention matrix events_retention_cohorts
    serves. Week 0 is excluded (retention(0) = 1 by construction and
    would flatten the fit). One user-grain first-seen aggregate, one
    distinct (user, week) projection, a 4-week point set, the shared
    closed form."""
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    act = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.expr("datediff(to_date(ts), d0) div 7").alias("week_off"),
        )
        .distinct()
    )
    n0 = firsts.count()
    weekly = (
        act.filter(F.col("week_off") >= 1)
        .groupBy("week_off")
        .agg(F.count(F.lit(1)).alias("active"))
    )
    pts = weekly.select(
        (F.col("week_off") * 1_000_000).cast("long").alias("x"),
        F.round(
            F.log(F.col("active").cast("double") / F.lit(float(n0))) * 1_000_000
        )
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    from pdf_brain_spark.streaming.events import ols_num_den_exprs

    num, den = ols_num_den_exprs()
    # a degenerate series (one week point, or zero variance/slope) has no
    # fit — emit zero rows, matching the oracle's guard, instead of an
    # ANSI divide-by-zero (caught at sf0.001 on registration)
    return (
        m.filter(
            (F.col("n") >= 2)
            & ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) != 0)
            & ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) != 0)
        )
        .select(
            F.col("n").alias("n_weeks"),
            F.round(num / den, 6).alias("weekly_decay"),
            F.round(F.lit(-0.6931471805599453) / (num / den), 6).alias(
                "half_life_weeks"
            ),
        )
    )


