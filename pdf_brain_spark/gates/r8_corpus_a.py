"""Gate definitions, round-8 registrations (first half): the round-9
rotation queue — corpus statistics, embedding analytics, streaming
monoid serving paths, fingerprinting, sampling, and BI families.

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
from pdf_brain_spark.gates.core import FTS_QUERY_TERMS, _DUCK_CENTROIDS, _DUCK_SHINGLES  # noqa: F401
from pdf_brain_spark.gates.quality_temporal import _sub_shingle_cap  # noqa: F401
from pdf_brain_spark.gates.composites import _hamming_batch_oracle  # noqa: F401

# --------------------------------------------------------------------------
# Round-8 registrations (the round-9 rotation queue): sealed after this
# round's GATE_WINDOW; verified via tests/oracle_harness.py at three
# scales until a future rotation gives them driver rows.
# --------------------------------------------------------------------------


@query(
    "kmeans_assign",
    oracle=f"""
    WITH {_DUCK_CENTROIDS},
    dists AS (
      SELECT e.vec_id, c.label,
             sqrt(list_sum(list_transform(list_zip(e.embedding, c.centroid),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))) AS dist
      FROM embeddings e CROSS JOIN cent c
    ),
    ranked AS (
      SELECT vec_id, label, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, label ASC) AS rn
      FROM dists
    )
    SELECT vec_id, label AS cluster_id, round(dist, 6) AS distance
    FROM ranked WHERE rn = 1
    ORDER BY vec_id
    """,
)
def kmeans_assign_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means ASSIGN step behind an exact oracle (VERDICT r7 item 5):
    given pinned centroids (here the deterministic per-label means, the
    same oracle-able stand-in cluster_concept_map attests), assignment is
    argmin-of-Euclidean-distance — SQL-expressible, so the PRODUCTION
    Arrow/BLAS scorer (operators/clustering.py::_assign_udf, the exact
    kernel kmeans_assign and the streaming ANN ingest run) is verified
    row-for-row against DuckDB's argmin. This shrinks the clustering
    suite's rows-only surface to the seeded Lloyd's fit itself
    (clustering_model_report). Map-only: the centroid matrix is a
    closure constant; no shuffle anywhere. Tie-break: lowest label, both
    sides (argmin picks the first index; centroids are passed in label
    order)."""
    from pdf_brain_spark.operators.clustering import _assign_udf, label_centroids

    emb = load_table(spark, "embeddings", sf_dir)
    cents = sorted(
        (
            (r["label"], r["centroid"])
            for r in label_centroids(emb).collect()  # bounded: one row per label
        ),
        key=lambda t: t[0],
    )
    labels = [int(l) for l, _ in cents]
    assign = _assign_udf([c for _, c in cents])
    label_arr = F.array(*[F.lit(l) for l in labels])
    return (
        emb.withColumn("_a", assign(F.col("embedding")))
        .select(
            "vec_id",
            F.element_at(label_arr, F.col("_a.cluster_id") + 1).alias("cluster_id"),
            F.round(F.col("_a.distance"), 6).alias("distance"),
        )
        .orderBy("vec_id")
    )


@query("hamming_ann_batch64", oracle=None)  # oracle registered below
def hamming_ann_batch64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched Hamming ANN at production batch size (VERDICT r7 item 7):
    hamming_ann_batch16 gates the two-stage replay at 16 queries while
    the bench's amortization claim runs at 256 — this gate closes the
    gap by exercising 64 queries through the identical partial-top-k
    mapInPandas candidate stage + bounded-shortlist exact rerank
    (operators/quantization.py::hamming_rerank_topk_batch), with the
    same full two-stage DuckDB replay oracle. The candidate stage's
    shuffle volume is Q x n_candidates scalar rows regardless of corpus
    size — the property that makes the 100 TB claim, now attested at
    the amortized shape."""
    from pdf_brain_spark.operators.quantization import hamming_rerank_topk_batch

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return hamming_rerank_topk_batch(emb, queries, k=10, n_candidates=64)


ORACLES["hamming_ann_batch64"] = _hamming_batch_oracle(n_queries=64)


@query(
    "tpch_q4_priority_exists",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking), adapted to this schema's
    columns (no commit/receipt dates; 'late' = shipped >60 days after
    the order date). The EXISTS decorrelates to a LEFT SEMI join on
    orderkey — each order counted once however many lineitems are late —
    followed by a tiny priority aggregate. The quarter predicate is a
    pushed scan filter on orders; the semi join is the only shuffle."""
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    lineitem = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        lineitem,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 50
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the HAVING aggregate
    runs FIRST at orderkey grain (map-side combinable, integer
    quantities), shrinking the fact to the handful of big orders before
    any join — orders joins that tiny set on its shuffle and customers
    broadcast onto it, so the expensive table is aggregated exactly
    once and never re-scanned (the classic semi-aggregate-then-join
    rewrite of the correlated IN subquery)."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(50)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@query(
    "tpch_q19_disjunctive_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * CAST(round((1.0 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE)
                 / 10000.0, 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 15 AND 35)
       OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 25 AND 50
           AND l.l_quantity BETWEEN 30 AND 50)
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): three OR'd
    brand/size/quantity conjunctions spanning both join sides. Catalyst
    extracts the common-side implications — the part side's
    (brand,size) disjunction and the lineitem side's quantity range
    [1,50] union — as pushed scan filters, so both scans shrink BEFORE
    the broadcast hash join and the full disjunction evaluates only on
    surviving pairs. One scalar aggregate ends the plan; exact integer
    cents x discount-complement units."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    j = lineitem.join(
        F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
    ).filter(
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(15, 35)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(25, 50)
            & F.col("l_quantity").between(30, 50)
        )
    )
    rev_units = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    return j.agg(
        F.round(F.sum(rev_units).cast("double") / F.lit(10000.0), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "grouping_sets_pricing",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS grouping_level,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY grouping_level, returnflag, linestatus
    """,
)
def grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with GROUPING() disambiguation
    — the multi-granularity rollup the warehouse tier serves from one
    pass. Spark's cube() computes all four grouping sets in ONE shuffle
    (each map task emits one partial per set — 9 distinct keys total,
    map-side combinable), and grouping() distinguishes a real NULL key
    from a rolled-up one, surfaced as the same coalesced 'ALL' + level
    encoding on both engines. Integer quantity/cent sums."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast(
                    "double"
                )
                / F.lit(100.0),
                2,
            ).alias("sum_price"),
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("long")
            .alias("_lvl"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            F.col("_lvl").alias("grouping_level"),
            "n_rows",
            "sum_qty",
            "sum_price",
        )
        .orderBy("grouping_level", "returnflag", "linestatus")
    )


@query(
    "cdc_apply_changelog",
    oracle="""
    WITH base AS (SELECT doc_id, text FROM documents),
    log AS (
      SELECT doc_id, 1 AS seq, 'U' AS op, text || ' [u1]' AS text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, 2, 'D', NULL FROM documents WHERE doc_id % 7 = 2
      UNION ALL
      SELECT doc_id + 2000000, 3, 'I',
             'inserted doc ' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 13 = 1
      UNION ALL
      SELECT doc_id, 4, 'U', text || ' [u2]' FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id, 5, 'U', text || ' [resurrected]'
      FROM documents WHERE doc_id % 14 = 2
    ),
    decided AS (
      SELECT doc_id, seq AS _seq, op AS _op, text AS _new
      FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1
    ),
    merged AS (
      SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
             CASE WHEN d._op IS NULL THEN b.text ELSE d._new END AS text,
             COALESCE(d._seq, 0) AS last_seq,
             COALESCE(d._op, 'B') AS last_op
      FROM base b FULL OUTER JOIN decided d ON b.doc_id = d.doc_id
      WHERE d._op IS NULL OR d._op <> 'D'
    )
    SELECT doc_id, md5(COALESCE(text, chr(1))) AS text_md5,
           CAST(last_seq AS BIGINT) AS last_seq, last_op
    FROM merged ORDER BY doc_id
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog APPLY (operators/ingest.py::apply_changelog — the
    inverse of snapshot_diff_cdc, together closing the CDC round-trip):
    a five-sequence log with overlapping key sets exercises every merge
    decision — update-then-reupdate (last wins), delete, insert,
    delete-then-resurrect — against a full SQL replay. The changelog
    collapses to one decision per key BEFORE touching the base (max-by-
    seq struct aggregate), so the base sees exactly one key-grain outer
    join — the MERGE plan that survives a 100 TB base with a 0.1% daily
    log."""
    from pdf_brain_spark.operators.ingest import apply_changelog

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def log_slice(pred, seq, op, text_col):
        return docs.filter(pred).select(
            (F.col("doc_id") + (2000000 if op == "I" else 0)).alias("doc_id"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            text_col.alias("text"),
        )

    changelog = (
        log_slice(F.col("doc_id") % 5 == 0, 1, "U", F.concat(F.col("text"), F.lit(" [u1]")))
        .unionByName(log_slice(F.col("doc_id") % 7 == 2, 2, "D", F.lit(None).cast("string")))
        .unionByName(
            log_slice(
                F.col("doc_id") % 13 == 1, 3, "I",
                F.concat(F.lit("inserted doc "), F.col("doc_id").cast("string")),
            )
        )
        .unionByName(log_slice(F.col("doc_id") % 10 == 0, 4, "U", F.concat(F.col("text"), F.lit(" [u2]"))))
        .unionByName(
            log_slice(F.col("doc_id") % 14 == 2, 5, "U", F.concat(F.col("text"), F.lit(" [resurrected]")))
        )
    )
    merged = apply_changelog(docs, changelog)
    return merged.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit("\x01"))).alias("text_md5"),
        F.col("last_seq").cast("long").alias("last_seq"),
        "last_op",
    ).orderBy("doc_id")


@query(
    "fk_integrity_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST(count(*) AS BIGINT) AS n_child_rows,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
           CAST(count(DISTINCT CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END) AS BIGINT) AS n_orphan_keys
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CASE WHEN p.p_partkey IS NULL THEN l.l_partkey END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CASE WHEN s.s_suppkey IS NULL THEN l.l_suppkey END) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CASE WHEN n.n_nationkey IS NULL THEN c.c_nationkey END) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'events.user_id->customer',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CASE WHEN c.c_custkey IS NULL THEN e.user_id END) AS BIGINT)
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    ORDER BY fk_edge
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges —
    the data-quality sweep a warehouse runs before publishing a
    snapshot (and the engine-side generalization of the reference's
    FK-repair anti-joins, LibSQLDatabase.ts delete-orphans paths): per
    edge, child rows / orphan rows / distinct orphan keys in ONE left
    join + aggregate. Every parent here is dimension-sized and
    broadcast, so no edge shuffles the child table; the events edge is
    the deliberately-violated one (user_id draws from a wider range
    than custkey), proving the audit actually counts orphans. At
    100 TB, fact-fact edges (lineitem->orders) co-locate by bucketing
    the shared key — the only edge whose parent outgrows a broadcast."""
    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("events", "user_id", "customer", "c_custkey"),
    ]
    reports = []
    for child_t, child_k, parent_t, parent_k in edges:
        child = load_table(spark, child_t, sf_dir).select(F.col(child_k))
        parent = load_table(spark, parent_t, sf_dir).select(F.col(parent_k))
        j = child.join(F.broadcast(parent), child[child_k] == parent[parent_k], "left")
        reports.append(
            j.agg(
                F.count(F.lit(1)).alias("n_child_rows"),
                F.sum(
                    F.when(parent[parent_k].isNull(), 1).otherwise(0)
                ).alias("n_orphan_rows"),
                F.countDistinct(
                    F.when(parent[parent_k].isNull(), child[child_k])
                ).alias("n_orphan_keys"),
            ).select(
                F.lit(f"{child_t}.{child_k}->{parent_t}").alias("fk_edge"),
                "n_child_rows",
                "n_orphan_rows",
                "n_orphan_keys",
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("fk_edge")


@query(
    "streaming_rollup_write_travel",
    oracle="""
    WITH ev AS (
      SELECT event_id, event_type, date_trunc('hour', ts) AS ws,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    corr_buckets AS (
      SELECT DISTINCT event_type, ws FROM ev WHERE event_id % 4 = 0
    ),
    write_view AS (
      SELECT 'write' AS mode, event_type, ws,
             CAST(count(*) AS BIGINT) AS n_events,
             round(CAST(sum(cents) AS DOUBLE) / 100.0, 4) AS total_value
      FROM ev GROUP BY 2, 3
    ),
    coverage_kept AS (
      SELECT e.* FROM ev e JOIN corr_buckets c
        ON e.event_type = c.event_type AND e.ws = c.ws
      WHERE e.event_id % 4 = 0
      UNION ALL
      SELECT e.* FROM ev e ANTI JOIN corr_buckets c
        ON e.event_type = c.event_type AND e.ws = c.ws
    ),
    coverage_view AS (
      SELECT 'coverage' AS mode, event_type, ws,
             CAST(count(*) AS BIGINT) AS n_events,
             round(CAST(sum(cents) AS DOUBLE) / 100.0, 4) AS total_value
      FROM coverage_kept GROUP BY 2, 3
    )
    SELECT mode, event_type, ws AS window_start, n_events, total_value
    FROM (SELECT * FROM write_view UNION ALL SELECT * FROM coverage_view)
    ORDER BY mode, event_type, window_start
    """,
)
def streaming_rollup_write_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL time travel on the generation store (read_rollup
    temporal='write' vs 'coverage' — the r8 write-sequence key): stream
    the events table in two pinned batches, then REPAIR history with a
    backfill at floor 1 whose corrected slice is the event_id % 4 = 0
    subset (its buckets replace their additive history). Serving asof
    batch 1 then answers two different questions from ONE store:
    temporal='write' reproduces what batch 1's reader saw — the FULL
    uncorrected rollup, repair invisible because it was written later;
    temporal='coverage' serves the corrected history — repaired buckets
    from the corrected slice only, untouched buckets from all events.
    Both views verified against independent one-shot SQL in one frame.
    A real AvailableNow run + backfill per invocation; replayed_stream
    pins batch 0 to the even-parity half."""
    from pdf_brain_spark.streaming.events import (
        backfill_rollup,
        read_rollup,
        streaming_incremental_rollup,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    with replayed_stream(spark, ev, F.col("event_id") % 2 == 0) as (stream, root):
        roll = f"{root}/rollup"
        streaming_incremental_rollup(spark, stream, roll, f"{root}/ckpt").awaitTermination()
        backfill_rollup(
            spark, roll, ev.filter(F.col("event_id") % 4 == 0), floor_batch_id=1
        )
        write_view = read_rollup(spark, roll, asof_batch_id=1, temporal="write")
        coverage_view = read_rollup(spark, roll, asof_batch_id=1)
        out = (
            write_view.select(F.lit("write").alias("mode"), "*")
            .unionByName(coverage_view.select(F.lit("coverage").alias("mode"), "*"))
            .orderBy("mode", "event_type", "window_start")
        )
        return out.localCheckpoint(eager=True)


@query(
    "bpe_merge_candidates",
    oracle="""
    WITH words AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                    t -> t <> '')) AS w
      FROM documents
    ),
    wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words
      WHERE len(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, CAST(i AS INT), 2))) AS pair,
             freq
      FROM wf
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair ASC
    LIMIT 50
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step over the corpus (Sennrich et al. 2016:
    the tokenizer-induction primitive a training-data pipeline runs
    before anything else): adjacent character-pair frequencies weighted
    by word frequency, top-50 merge candidates. Plan: the corpus
    collapses to the word-frequency table FIRST (one map-side-combinable
    shuffle — pair explosion then runs over |vocab| rows, not |tokens|),
    pairs derive as a native substring transform (no Python), and one
    more combinable aggregate ranks candidates. At 100 TB the vocab
    table is millions of rows where the token stream is trillions —
    the explode-after-aggregate ordering is the whole game."""
    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    wf = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(50)
    )


def _matryoshka_oracle(dims=(8, 16, 32, 64)) -> str:
    def pnorm(col, d):
        return (
            f"sqrt(list_sum(list_transform(range(1, {d + 1}), "
            f"i -> CAST({col}[i] AS DOUBLE) * CAST({col}[i] AS DOUBLE))))"
        )

    def pdot(a, b, d):
        return (
            f"list_sum(list_transform(range(1, {d + 1}), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    blocks = []
    for d in dims:
        blocks.append(f"""
    energy_{d} AS (
      SELECT round(CAST(sum(CAST(round(1000000.0 * {pnorm('e.embedding', d)}
                         / {pnorm('e.embedding', 64)}) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1000000.0), 6) AS avg_energy_frac
      FROM embeddings e
    ),
    top_{d} AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               {pdot('e.embedding', 'q.embedding', d)} /
               ({pnorm('e.embedding', d)} * {pnorm('q.embedding', d)}) AS cos,
               row_number() OVER (ORDER BY {pdot('e.embedding', 'q.embedding', d)} /
                 ({pnorm('e.embedding', d)} * {pnorm('q.embedding', d)}) DESC,
                 e.vec_id ASC) AS rn
        FROM embeddings e, q WHERE e.vec_id <> 0
      ) WHERE rn <= 10
    )""")
        # overlap computed against top_64 below
    selects = [
        f"""SELECT {d} AS dim_prefix,
               (SELECT avg_energy_frac FROM energy_{d}) AS avg_energy_frac,
               (SELECT CAST(count(*) AS BIGINT) FROM top_{d} t
                  JOIN top_64 f ON t.vec_id = f.vec_id) AS top10_overlap"""
        for d in dims
    ]
    return (
        "WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),"
        + ",".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY dim_prefix"
    )


@query("matryoshka_truncation_report", oracle=None)  # oracle registered below
def matryoshka_truncation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) truncation quality report:
    for each dimension prefix (8/16/32/64), (a) the average retained-
    energy fraction ‖x[:d]‖/‖x‖ — integer-ppm per vector so engine
    summation order cannot move the mean — and (b) the top-10 retrieval
    overlap for a pinned query between prefix-cosine and full-cosine
    ranking, the metric that decides whether serving can run truncated
    vectors at 1/8 the scan bytes. Prefix math reuses the deterministic
    left-to-right cosine/norm kernels (functions/vector.py) with dim=d —
    NO slicing or copying of the arrays, the same plan a production
    truncated-serving path would run."""
    from pdf_brain_spark.functions.vector import cosine_similarity, norm

    emb = load_table(spark, "embeddings", sf_dir)
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    full_dim = len(qvec)
    dims = [8, 16, 32, full_dim]

    def top10(d):
        cos = cosine_similarity("embedding", qvec, dim=d)
        return (
            emb.filter(F.col("vec_id") != 0)
            .select("vec_id", cos.alias("cos"))
            .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
            .limit(10)
            .select("vec_id")
        )

    full_top = top10(full_dim).localCheckpoint(eager=True)
    reports = []
    for d in dims:
        frac_ppm = F.round(
            F.lit(1_000_000.0)
            * norm("embedding", dim=d)
            / norm("embedding", dim=full_dim)
        ).cast("long")
        energy = emb.agg(
            F.round(
                F.sum(frac_ppm).cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
                6,
            ).alias("avg_energy_frac")
        )
        if d == full_dim:
            # full prefix == the checkpointed reference list by
            # construction; joining a recomputed copy against it would
            # pay one redundant corpus scan per invocation for a
            # guaranteed overlap of k
            overlap = full_top.agg(F.count(F.lit(1)).alias("top10_overlap"))
        else:
            overlap = top10(d).join(full_top, "vec_id").agg(
                F.count(F.lit(1)).alias("top10_overlap")
            )
        reports.append(
            energy.crossJoin(overlap).select(
                F.lit(d).alias("dim_prefix"), "avg_energy_frac", "top10_overlap"
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("dim_prefix")


ORACLES["matryoshka_truncation_report"] = _matryoshka_oracle()


@query(
    "dsir_importance_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                    t -> t <> '')) AS term
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) % 512 AS bucket
      FROM toks
    ),
    raw_lm AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM hashed GROUP BY bucket
    ),
    tgt_lm AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM hashed
      WHERE lang = 'en' GROUP BY bucket
    ),
    totals AS (
      SELECT (SELECT count(*) FROM hashed) AS n_raw,
             (SELECT count(*) FROM hashed WHERE lang = 'en') AS n_tgt
    ),
    ratios AS (
      SELECT r.bucket,
             CAST(round(ln(
               (CAST(COALESCE(t.c, 0) + 1 AS DOUBLE) / (tot.n_tgt + 512)) /
               (CAST(r.c + 1 AS DOUBLE) / (tot.n_raw + 512))
             ) * 1000000) AS BIGINT) AS lr_micro
      FROM raw_lm r LEFT JOIN tgt_lm t ON r.bucket = t.bucket, totals tot
    ),
    scored AS (
      SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(ratios.lr_micro) AS BIGINT) AS weight_micro_nats
      FROM hashed h JOIN ratios ON h.bucket = ratios.bucket
      GROUP BY h.doc_id
    ),
    ranked AS (
      SELECT doc_id, n_tokens, weight_micro_nats,
             row_number() OVER (ORDER BY weight_micro_nats DESC, doc_id ASC) AS rnk,
             count(*) OVER () AS n_docs
      FROM scored
    )
    SELECT doc_id, n_tokens, weight_micro_nats,
           (rnk <= n_docs / 4) AS selected
    FROM ranked ORDER BY doc_id LIMIT 300
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023: importance resampling on
    hashed n-gram features): per-document importance weight = Σ over
    tokens of log[p_target(bucket)/p_raw(bucket)] with 512 hashed
    unigram buckets, add-1 smoothing, target = the English slice. Log-
    ratios quantize to integer micro-nats per bucket BEFORE the per-doc
    sum (the unigram_perplexity_filter discipline — engine float-sum
    order cannot move a weight), and the top quarter by weight is the
    selected set. Plan: two bucket-count aggregates (512-row tables),
    the ratio table broadcast back onto the hashed token stream, one
    doc-grain integer aggregate; the doc-grain selection rank runs on
    the STITCHED two-level scan (operators/stitched.py, adopted late
    r12: running count over (weight desc, doc_id) via the negated-axis
    tiebreak form) — distributed, no single-partition sort at the
    corpus-growing doc grain. The 100 TB degradation documented before
    the stitched adoption (two-pass exact-integer p75 threshold + a
    map-only filter) remains a valid alternative but is no longer
    needed."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    hashed = docs.select(
        "doc_id",
        "lang",
        F.explode(tokenize("text")).alias("term"),
    ).select("doc_id", "lang", (md5_long("term") % 512).alias("bucket"))
    hashed = hashed.localCheckpoint(eager=True)
    raw_lm = hashed.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt_lm = (
        hashed.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    totals = hashed.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_tgt"),
    )
    ratios = (
        raw_lm.join(tgt_lm, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast("double")
                     / (F.col("n_tgt") + 512).cast("double"))
                    / ((F.col("c_raw") + 1).cast("double")
                       / (F.col("n_raw") + 512).cast("double"))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    scored = (
        hashed.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_micro").alias("weight_micro_nats"),
        )
    )
    # doc-grain selection rank via the STITCHED scan (r12): running
    # count over (weight DESC, doc_id) = negated axis + tiebreak; this
    # axis grows with the corpus, so the old single-partition
    # row_number was the Pareto shape. Oracle keeps the global form.
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    n_docs = scored.agg(F.count(F.lit(1)).alias("n_docs"))
    ranked = stitched_prefix_sums(
        scored.withColumn("_neg", -F.col("weight_micro_nats")).withColumn(
            "_one", F.lit(1).cast("long")
        ),
        "_neg",
        ["_one"],
        what="DSIR doc-grain selection rank",
        tiebreak_cols=["doc_id"],
    )
    return (
        ranked.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "n_tokens",
            "weight_micro_nats",
            (F.col("_one_cum") <= F.col("n_docs") / 4).alias("selected"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


@query(
    "quality_linear_classifier",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                  t -> t <> '')) AS BIGINT) AS n_tok,
             CAST(len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
             CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                  t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                             'that','for','on','with','as'))) AS BIGINT) AS n_stop
      FROM documents
    ),
    ppm AS (
      SELECT doc_id, n_tok,
             CAST(round(1000000.0 * n_stop / greatest(n_tok, 1)) AS BIGINT) AS stop_ppm,
             CAST(round(1000000.0 * n_punct / greatest(n_tok, 1)) AS BIGINT) AS punct_ppm,
             CAST(round(1000000.0 * n_digit / greatest(n_tok, 1)) AS BIGINT) AS digit_ppm
      FROM feats
    ),
    scored AS (
      SELECT doc_id, n_tok, stop_ppm, punct_ppm, digit_ppm,
             3 * stop_ppm - 2 * punct_ppm - 4 * digit_ppm
               + 1000 * least(n_tok, 256) AS score_micro
      FROM ppm
    )
    SELECT doc_id, n_tok, stop_ppm, punct_ppm, digit_ppm, score_micro,
           CASE WHEN score_micro >= 400000 THEN 'high'
                WHEN score_micro >= 200000 THEN 'medium'
                ELSE 'low' END AS quality_bin
    FROM scored ORDER BY doc_id LIMIT 300
    """,
)
def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering plumbing (the fastText-classifier
    stage of GPT-3/LLaMA-style pipelines, with a PINNED linear model so
    the gate is exactly reproducible): per-doc features — token count,
    stopword/punctuation/digit rates in integer ppm — scored by fixed
    integer weights, binned at fixed thresholds. Everything is integer
    arithmetic after one round() per rate, so the score is bit-exact on
    any engine; swapping the pinned weights for learned ones changes no
    plan shape. Map-only: zero shuffles, every feature a native string
    expression — at 100 TB this runs at scan speed alongside the other
    map-stage quality gates (corpus_clean_pipeline)."""
    from pdf_brain_spark.functions.text import tokenize

    stopwords = [
        "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
        "that", "for", "on", "with", "as",
    ]
    docs = load_table(spark, "documents", sf_dir)
    toks = tokenize("text")
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(stopwords))
    ).cast("long")
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).cast("long")
    n_digit = F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("long")
    denom = F.greatest(n_tok, F.lit(1))
    feats = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.round(F.lit(1_000_000.0) * n_stop / denom).cast("long").alias("stop_ppm"),
        F.round(F.lit(1_000_000.0) * n_punct / denom).cast("long").alias("punct_ppm"),
        F.round(F.lit(1_000_000.0) * n_digit / denom).cast("long").alias("digit_ppm"),
    )
    score = (
        3 * F.col("stop_ppm")
        - 2 * F.col("punct_ppm")
        - 4 * F.col("digit_ppm")
        + 1000 * F.least(F.col("n_tok"), F.lit(256))
    )
    return (
        feats.withColumn("score_micro", score)
        .withColumn(
            "quality_bin",
            F.when(F.col("score_micro") >= 400_000, "high")
            .when(F.col("score_micro") >= 200_000, "medium")
            .otherwise("low"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    tiers AS (
      SELECT user_id, day,
             CASE WHEN cents >= 20000 THEN 'high'
                  WHEN cents >= 7500 THEN 'mid'
                  ELSE 'low' END AS tier
      FROM daily
    ),
    flagged AS (
      SELECT user_id, day, tier,
             CASE WHEN lag(tier) OVER w IS NULL
                       OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
      FROM tiers
      WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ),
    islands AS (
      SELECT user_id, day, tier,
             sum(chg) OVER (PARTITION BY user_id ORDER BY day) AS v
      FROM flagged
    ),
    vers AS (
      SELECT user_id, v AS version, min(tier) AS tier,
             min(day) AS valid_from
      FROM islands GROUP BY user_id, v
    ),
    dim AS (
      SELECT user_id, version, tier, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to
      FROM vers
    )
    SELECT e.event_id, e.user_id, date_trunc('day', e.ts) AS day,
           d.tier, CAST(d.version AS BIGINT) AS version
    FROM events e JOIN dim d
      ON e.user_id = d.user_id
     AND date_trunc('day', e.ts) >= d.valid_from
     AND (d.valid_to IS NULL OR date_trunc('day', e.ts) < d.valid_to)
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id LIMIT 300
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) lookup against the Type-2 dimension — the
    query SCD2 exists FOR, and the one a naive current-state join gets
    wrong: each purchase event joins the tier version whose validity
    interval [valid_from, valid_to) covers the event's day, so a
    training-feature build never leaks a FUTURE tier back in time. Plan:
    the dimension build reuses scd2_compress (one user_id exchange); the
    range join expresses as an equi-join on user_id + interval filter —
    per-user version lists are short, so the filter scans a handful of
    rows per event, and at 100 TB both sides bucket by user_id and the
    whole lookup co-locates."""
    from pdf_brain_spark.operators.temporal import scd2_compress

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    tiers = daily.select(
        "user_id",
        "day",
        F.when(F.col("cents") >= 20000, "high")
        .when(F.col("cents") >= 7500, "mid")
        .otherwise("low")
        .alias("tier"),
    )
    dim = scd2_compress(tiers, key_cols=("user_id",), attr_col="tier", period_col="day").select(
        F.col("user_id").alias("d_user_id"), "version", "tier", "valid_from", "valid_to"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    return (
        purchases.join(
            dim,
            (F.col("user_id") == F.col("d_user_id"))
            & (F.col("day") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("day") < F.col("valid_to"))),
        )
        .select(
            "event_id", "user_id", "day", "tier",
            F.col("version").cast("long").alias("version"),
        )
        .orderBy("event_id")
        .limit(300)
    )


@query(
    "semdedup_report",
    oracle="""
    WITH pairs AS (
      SELECT b.vec_id,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    dups AS (
      SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dups_below,
             round(max(cos), 6) AS max_sim
      FROM pairs WHERE round(cos, 6) >= 0.3 GROUP BY vec_id
    )
    SELECT e.vec_id, CAST(e.label AS INT) AS label,
           COALESCE(d.n_dups_below, 0) AS n_dups_below,
           COALESCE(d.max_sim, 0.0) AS max_sim,
           (d.vec_id IS NOT NULL) AS dropped
    FROM embeddings e LEFT JOIN dups d ON e.vec_id = d.vec_id
    ORDER BY e.vec_id LIMIT 500
    """,
)
def semdedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication INSIDE
    clusters — pair vectors only within their cluster (here the label
    column; in production the kmeans_assign output), drop a vector when
    a lower-id cluster-mate exceeds the similarity threshold. The
    clustering is the whole scale story: candidate pairs are
    per-cluster quadratic instead of corpus-quadratic, and the
    threshold (0.3 = this synthetic geometry's p99 intra-cluster
    cosine) is compared on the 6-dp-rounded value on BOTH engines so a
    borderline pair can't flip the keep/drop decision between engines.
    Plan: one label-key self-join (co-partitioned, never crossing
    clusters), a drop-decision aggregate, a left join back to the full
    set."""
    from pdf_brain_spark.functions.vector import cosine_similarity

    emb = load_table(spark, "embeddings", sf_dir)
    a = emb.select(
        F.col("label").alias("l"), F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
    )
    b = emb.select(
        F.col("label").alias("l"), F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
    )
    pairs = (
        a.join(b, "l")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            F.col("b_id").alias("vec_id"),
            cosine_similarity("a_emb", "b_emb").alias("cos"),
        )
    )
    dups = (
        pairs.filter(F.round(F.col("cos"), 6) >= 0.3)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_dups_below"),
            F.round(F.max("cos"), 6).alias("max_sim"),
        )
    )
    return (
        emb.select("vec_id", F.col("label").cast("int").alias("label"))
        .join(dups.withColumnRenamed("vec_id", "d_id"),
              F.col("vec_id") == F.col("d_id"), "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("n_dups_below"), F.lit(0)).alias("n_dups_below"),
            F.coalesce(F.col("max_sim"), F.lit(0.0)).alias("max_sim"),
            F.col("d_id").isNotNull().alias("dropped"),
        )
        .orderBy("vec_id")
        .limit(500)
    )


@query("fts_compacted_lifecycle", oracle=None)  # oracle registered below
def fts_compacted_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL persisted-FTS lifecycle through one gate: two-batch
    index build (even/odd docs), takedown tombstone for doc 3, then
    compaction into the TERM-PARTITIONED compacted generation
    (compact_fts_index's term_bucket layout, r8), and a serve whose
    query-term probe prunes unqueried buckets at planning time. The
    oracle scores BM25 one-shot over the post-takedown corpus, so a
    green row certifies build + tombstone + compaction + pruned serve
    end-to-end (the ANN index's lifecycle-gate play, carried to text)."""
    import shutil
    import tempfile

    from pdf_brain_spark.streaming.events import (
        compact_fts_index,
        delete_fts_documents,
        fts_search_persisted,
        make_fts_postings_batch_fn,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    idx = tempfile.mkdtemp(prefix="sgraft_ftslc_")
    try:
        fn = make_fts_postings_batch_fn(idx)
        fn(docs.filter(F.col("doc_id") % 2 == 0), 0)
        fn(docs.filter(F.col("doc_id") % 2 == 1), 1)
        delete_fts_documents(
            spark, idx, spark.createDataFrame([(3,)], "doc_id long"), 1
        )
        compact_fts_index(spark, idx, upto_batch_id=1)
        return fts_search_persisted(
            spark, idx, FTS_QUERY_TERMS, k=10
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def _register_fts_lifecycle_oracle():
    from pdf_brain_spark.operators.fts import duck_bm25_sql

    ORACLES["fts_compacted_lifecycle"] = duck_bm25_sql(
        FTS_QUERY_TERMS, k=10, where_clause="WHERE doc_id <> 3"
    )


_register_fts_lifecycle_oracle()


@query(
    "bigram_surprisal_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS tokens
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(2, len(tokens) + 1),
               i -> tokens[i-1] || chr(31) || tokens[i])) AS bg
      FROM toks WHERE len(tokens) >= 2
    ),
    bg_counts AS (
      SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM bigrams GROUP BY bg
    ),
    prev_counts AS (
      SELECT split_part(bg, chr(31), 1) AS prev,
             CAST(sum(c_bg) AS BIGINT) AS c_prev
      FROM bg_counts GROUP BY 1
    ),
    uni AS (
      SELECT t.term, CAST(count(*) AS BIGINT) AS c_uni FROM (
        SELECT unnest(tokens) AS term FROM toks
      ) t GROUP BY t.term
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
      SELECT unnest(tokens) FROM toks
    )),
    lm AS (
      SELECT b.bg,
             CAST(round(-ln(
               0.7 * (CAST(b.c_bg AS DOUBLE) / p.c_prev)
               + 0.3 * (CAST(u.c_uni AS DOUBLE) / t.n)
             ) * 1000000) AS BIGINT) AS s_micro
      FROM bg_counts b
      JOIN prev_counts p ON split_part(b.bg, chr(31), 1) = p.prev
      JOIN uni u ON split_part(b.bg, chr(31), 2) = u.term, tot t
    ),
    scored AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(lm.s_micro) AS BIGINT) AS sum_micro_nats
      FROM bigrams g JOIN lm ON g.bg = lm.bg GROUP BY g.doc_id
    )
    SELECT doc_id, n_bigrams, sum_micro_nats,
           round(CAST(sum_micro_nats AS DOUBLE) / (1000000.0 * n_bigrams), 4)
             AS avg_surprisal_nats
    FROM scored ORDER BY doc_id LIMIT 300
    """,
)
def bigram_surprisal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model surprisal per document — the
    next rung above unigram_perplexity_filter on the CCNet-style
    quality ladder: p(cur|prev) = 0.7·ML-bigram + 0.3·unigram, each
    bigram TYPE's surprisal quantized once to integer micro-nats, then
    summed per document in exact integer arithmetic. Documents with
    fewer than two tokens carry no bigrams and drop from scoring (both
    engines). Plan: bigram keys derive natively (no Python), the LM is
    three map-side-combinable aggregates over type grain, and the type
    table broadcasts back onto the bigram stream for one doc-grain
    integer aggregate."""
    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    toked = docs.select("doc_id", tokenize("text").alias("tokens")).filter(
        F.size("tokens") >= 2
    )
    bigrams = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("tokens")),
                lambda i: F.concat_ws(
                    "\x1f",
                    F.element_at(F.col("tokens"), i - 1),
                    F.element_at(F.col("tokens"), i),
                ),
            )
        ).alias("bg"),
    )
    bigrams = bigrams.localCheckpoint(eager=True)
    bg_counts = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    prev_of = F.split(F.col("bg"), "\x1f").getItem(0)
    cur_of = F.split(F.col("bg"), "\x1f").getItem(1)
    prev_counts = bg_counts.groupBy(prev_of.alias("prev")).agg(
        F.sum("c_bg").alias("c_prev")
    )
    uni = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    uni = uni.localCheckpoint(eager=True)
    # total token count folds off the vocab aggregate — no third
    # tokenize pass over the corpus (self-review r8 finding); the exact
    # unigram TYPE count rides the same 1-row aggregate for free and
    # feeds the broadcast tripwire below
    tot = uni.agg(
        F.sum("c_uni").alias("n"),
        F.count(F.lit(1)).alias("_n_uni_types"),
    )
    from pdf_brain_spark.functions.guards import (
        BROADCAST_ROWS_BOUND,
        bounded_broadcast,
    )

    lm = (
        bg_counts.join(prev_counts, prev_of == F.col("prev"))
        .join(uni, cur_of == F.col("term"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bg",
            # the force-broadcast table is BIGRAM-type grain; the exact
            # count available without a new exchange is the UNIGRAM type
            # count, so the ceiling carries a 16x fan-out margin (bigram
            # type counts run ~5-15x the unigram vocab in natural-
            # language corpora, both Heaps-sublinear) — the tripwire
            # fires on |V| >= bound/16, before |bigram types| plausibly
            # reaches the broadcast bound; Spark's own loud over-ceiling
            # error remains the backstop for a pathological fan-out
            bounded_broadcast(
                F.round(
                    -F.log(
                        0.7 * (F.col("c_bg").cast("double") / F.col("c_prev").cast("double"))
                        + 0.3 * (F.col("c_uni").cast("double") / F.col("n").cast("double"))
                    )
                    * 1_000_000
                ).cast("long"),
                F.col("_n_uni_types"),
                "bigram_surprisal_filter's broadcast bigram LM "
                "(bigram-type grain, guarded via unigram vocab x16 margin)",
                bound=BROADCAST_ROWS_BOUND // 16,
            ).alias("s_micro"),
        )
    )
    scored = (
        bigrams.join(F.broadcast(lm), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("s_micro").alias("sum_micro_nats"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            "sum_micro_nats",
            F.round(
                F.col("sum_micro_nats").cast("double")
                / (F.lit(1_000_000.0) * F.col("n_bigrams").cast("double")),
                4,
            ).alias("avg_surprisal_nats"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


@query(
    "taxonomy_subtree_rollup",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT o_orderkey AS node,
             CAST(floor(o_orderkey / 2) AS BIGINT) AS parent
      FROM orders WHERE o_orderkey > 1 AND o_orderkey <= 4096
    ),
    roots AS (SELECT DISTINCT parent AS root FROM edges WHERE parent <= 8),
    sub AS (
      SELECT root, root AS member FROM roots
      UNION ALL
      SELECT s.root, e.node FROM sub s JOIN edges e ON e.parent = s.member
    )
    SELECT s.root, CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS subtree_total
    FROM sub s JOIN orders o ON o.o_orderkey = s.member
    GROUP BY s.root ORDER BY s.root
    """,
)
def taxonomy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree aggregation — the OLAP rollup along a
    taxonomy (the reference's TaxonomyService closure feeding its
    library stats): for each root concept, aggregate a measure over its
    ENTIRE descendant subtree, computed as the iterative frontier
    closure (operators/taxonomy.py::descendants, the recursive-CTE
    stand-in) joined to the fact measure and aggregated at root grain.
    The closure runs over the key-bounded dimension slice (pushed scan
    filter), the (root, member) pair set is tree-bounded, and the fact
    join is one key equi-join — the shape that survives a fact table
    1000x larger. Exact integer cents."""
    from pdf_brain_spark.operators.taxonomy import descendants

    orders = load_table(spark, "orders", sf_dir)
    edges = (
        orders.filter((F.col("o_orderkey") > 1) & (F.col("o_orderkey") <= 4096))
        .select(
            F.col("o_orderkey").alias("node"),
            F.floor(F.col("o_orderkey") / 2).cast("long").alias("parent"),
        )
        .distinct()
        .coalesce(1)
    )
    seed_edges = edges.filter(F.col("parent") <= 8)
    desc = descendants(seed_edges, edges, acyclic=True).select(
        F.col("node").alias("root"), F.col("descendant").alias("member")
    )
    selves = seed_edges.select(F.col("parent").alias("root")).distinct().select(
        "root", F.col("root").alias("member")
    )
    members = desc.unionByName(selves)
    measure = orders.select(
        F.col("o_orderkey").alias("member"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        members.join(measure, "member")
        .groupBy("root")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("cents").cast("double") / F.lit(100.0), 2).alias(
                "subtree_total"
            ),
        )
        .orderBy("root")
    )


# KMV constants come from the streaming store (single source of truth):
# read_kmv promises the served estimate bit-equals this one-shot sketch,
# so both gates and both oracles must derive k / (k-1) / 2^60 from the
# SAME definitions — retuning KMV_K cannot silently desync them.
from pdf_brain_spark.streaming.events import KMV_K as _KMV_K  # noqa: E402
from pdf_brain_spark.streaming.events import _KMV_M as _KMV_M_F  # noqa: E402


@query(
    "kmv_distinct_estimate",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
      FROM hashed
    ),
    sketch AS (
      SELECT event_type, CAST(max(h) AS BIGINT) AS h_k,
             CAST(count(*) AS BIGINT) AS n_in_sketch
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM hashed
      GROUP BY event_type
    )
    SELECT e.event_type, e.n_exact,
           CASE WHEN s.n_in_sketch < {_KMV_K} THEN s.n_in_sketch
                ELSE CAST(round({float(_KMV_K - 1)} * ({_KMV_M_F:.1f} / s.h_k)) AS BIGINT)
           END AS kmv_estimate,
           round(abs(CAST(CASE WHEN s.n_in_sketch < {_KMV_K} THEN s.n_in_sketch
                ELSE CAST(round({float(_KMV_K - 1)} * ({_KMV_M_F:.1f} / s.h_k)) AS BIGINT)
           END AS DOUBLE) / e.n_exact - 1.0), 6) AS rel_error
    FROM exact e JOIN sketch s USING (event_type)
    ORDER BY e.event_type
    """,
)
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-count sketch (Bar-Yossef et al. 2002 —
    the mergeable cardinality sketch, here with the repo's PORTABLE
    60-bit md5 hash instead of engine-private HLL so the estimate is
    bit-identical on every engine and therefore oracle-able, which
    approx_count_distinct never is): per event_type keep the 64
    smallest distinct hash values; estimate = (k-1) / (h_k / 2^60).
    The report carries exact count and measured relative error next to
    the estimate (the aqp_sum_estimate honesty pattern). Mergeability
    is the 100 TB story: per-partition bottom-64 lists merge by
    min-union — the same partials shape the generation store serves —
    so the sketch maintains incrementally while exact countDistinct
    re-shuffles the world."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    hashed = ev.select(
        "event_type", md5_long(Fragment("CAST(user_id AS STRING)")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    sketch = (
        ranked.filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("n_in_sketch"))
    )
    exact = hashed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.when(F.col("n_in_sketch") < _KMV_K, F.col("n_in_sketch")).otherwise(
        F.round(F.lit(float(_KMV_K - 1)) * (F.lit(_KMV_M_F) / F.col("h_k"))).cast(
            "long"
        )
    )
    return (
        exact.join(sketch, "event_type")
        .select(
            "event_type",
            "n_exact",
            est.alias("kmv_estimate"),
            F.round(
                F.abs(
                    est.cast("double") / F.col("n_exact").cast("double") - F.lit(1.0)
                ),
                6,
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


@query(
    "prefiltered_ann_topk",
    oracle="""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    filtered AS (
      SELECT vec_id, CAST(label AS INT) AS label, embedding
      FROM embeddings WHERE label IN (1, 3, 5) AND vec_id <> 0
    ),
    scored AS (
      SELECT f.vec_id, f.label,
             list_sum(list_transform(list_zip(f.embedding, q.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(f.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM filtered f, q
    )
    SELECT vec_id, label, round(cos, 6) AS cos,
           CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
    FROM scored QUALIFY rank <= 20 ORDER BY rank
    """,
)
def prefiltered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-filtered vector search — the complement of the reference's
    over-fetch-then-post-filter (P4, OVERFETCH_TAG_FILTER): when the
    attribute predicate is selective, filtering BEFORE the scan beats
    over-fetching after it (no recall cliff when the filter keeps few
    matches — post-filter with x3 over-fetch returns short lists
    exactly when the filter is most selective). The predicate lands in
    the parquet scan as a PushedFilter, the exhaustive cosine runs only
    over survivors, and TakeOrdered bounds the result — at 100 TB the
    same query runs against the IVF layout with the filter applied
    inside the probed lists."""
    from pdf_brain_spark.functions.vector import cosine_similarity

    emb = load_table(spark, "embeddings", sf_dir)
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    filtered = emb.filter(F.col("label").isin([1, 3, 5]) & (F.col("vec_id") != 0))
    from pyspark.sql import Window

    # TakeOrdered bounds the scan's output to 20 rows; the rank window
    # then runs over that 20-row frame, not the corpus
    top = (
        filtered.select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            cosine_similarity("embedding", qvec).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(20)
    )
    w = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("vec_id", "label", F.round("cos", 6).alias("cos"), "rank")
        .orderBy("rank")
    )


@query(
    "streaming_incremental_kmv",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
      FROM hashed
    ),
    sketch AS (
      SELECT event_type, CAST(max(h) AS BIGINT) AS h_k,
             CAST(count(*) AS BIGINT) AS n_in_sketch
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
    )
    SELECT event_type, n_in_sketch,
           CASE WHEN n_in_sketch < {_KMV_K} THEN n_in_sketch
                ELSE CAST(round({float(_KMV_K - 1)} * ({_KMV_M_F:.1f} / h_k)) AS BIGINT)
           END AS kmv_estimate
    FROM sketch ORDER BY event_type
    """,
)
def streaming_incremental_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental DISTINCT-COUNT maintenance — the KMV
    sketch as the mergeable-partials store's first SET-VALUED monoid
    (streaming/events.py::make_kmv_batch_fn): per-batch bottom-64
    distinct-hash partials merge by union-distinct-truncate, which is
    associative, commutative, AND idempotent, so however the stream
    batches (or a compaction) carved the data, the served estimate is
    bit-identical to the one-shot sketch over all events — which is
    exactly what the oracle computes. A real AvailableNow run per
    invocation. Incremental distinct counting is the canonical thing
    exact countDistinct cannot do without re-shuffling history; the
    sketch's persisted state is 64 longs per (group, live generation)."""
    from pdf_brain_spark.streaming.events import (
        read_kmv,
        streaming_incremental_kmv as drive_kmv,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "user_id"
    )
    with replayed_stream(spark, ev, F.col("event_id") % 2 == 0) as (stream, root):
        store = f"{root}/kmv"
        drive_kmv(spark, stream, store, f"{root}/ckpt").awaitTermination()
        return read_kmv(spark, store).orderBy("event_type").localCheckpoint(eager=True)


@query(
    "events_anomaly_mad",
    oracle="""
    WITH cents AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
    ),
    hist AS (
      SELECT event_type, c, count(*) AS n FROM cents GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, c, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY c) AS k
      FROM hist
    ),
    tot AS (SELECT event_type, sum(n) AS total FROM hist GROUP BY 1),
    med AS (
      SELECT c.event_type,
             min(CASE WHEN c.k >= (t.total + 1) // 2 THEN c.c END) AS median_c
      FROM cum c JOIN tot t USING (event_type) GROUP BY 1
    ),
    dev_hist AS (
      SELECT h.event_type, abs(h.c - m.median_c) AS d, sum(h.n) AS n
      FROM hist h JOIN med m USING (event_type) GROUP BY 1, 2
    ),
    dev_cum AS (
      SELECT event_type, d, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY d) AS k
      FROM dev_hist
    ),
    mad AS (
      SELECT dc.event_type,
             min(CASE WHEN dc.k >= (t.total + 1) // 2 THEN dc.d END) AS mad_c
      FROM dev_cum dc JOIN tot t USING (event_type) GROUP BY 1
    )
    SELECT h.event_type,
           CAST(t.total AS BIGINT) AS n_events,
           round(CAST(m.median_c AS DOUBLE) / 100.0, 2) AS median_value,
           round(CAST(d.mad_c AS DOUBLE) / 100.0, 2) AS mad_value,
           CAST(sum(CASE WHEN abs(h.c - m.median_c) > 5 * d.mad_c
                         THEN h.n ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM hist h
    JOIN med m USING (event_type) JOIN mad d USING (event_type)
    JOIN tot t USING (event_type)
    GROUP BY h.event_type, t.total, m.median_c, d.mad_c
    ORDER BY h.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection by MEDIAN ABSOLUTE DEVIATION — the
    heavy-tail-safe complement to events_count_anomalies' z-scores (one
    outlier day corrupts a mean/stddev threshold; it cannot move a
    median). Exact integer discipline throughout: type-1 medians derive
    from cent-grain histograms by integer cumulative ranks (the
    winsorized-stats play), the deviation histogram reuses the value
    histogram joined to its own median, and the 5×MAD anomaly rule
    compares integers — no engine can disagree at any boundary. Plan:
    two histogram aggregates (map-side combinable, value-grain output),
    two bounded rank windows over histogram grain (never event grain),
    one final report aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    hist = cents.groupBy("event_type", "c").agg(F.count(F.lit(1)).alias("n"))
    hist = hist.localCheckpoint(eager=True)
    tot = hist.groupBy("event_type").agg(F.sum("n").alias("total"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    med = (
        hist.withColumn("k", F.sum("n").over(wc))
        .join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.col("k") >= F.floor((F.col("total") + 1) / 2), F.col("c")
                )
            ).alias("median_c")
        )
    )
    dev_hist = (
        hist.join(F.broadcast(med), "event_type")
        .groupBy("event_type", F.abs(F.col("c") - F.col("median_c")).alias("d"))
        .agg(F.sum("n").alias("n"))
    )
    wd = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mad = (
        dev_hist.withColumn("k", F.sum("n").over(wd))
        .join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.col("k") >= F.floor((F.col("total") + 1) / 2), F.col("d")
                )
            ).alias("mad_c")
        )
    )
    return (
        hist.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "total", "median_c", "mad_c")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("c") - F.col("median_c")) > 5 * F.col("mad_c"),
                    F.col("n"),
                ).otherwise(F.lit(0))
            ).alias("n_anomalies")
        )
        .select(
            "event_type",
            F.col("total").alias("n_events"),
            F.round(F.col("median_c").cast("double") / 100.0, 2).alias("median_value"),
            F.round(F.col("mad_c").cast("double") / 100.0, 2).alias("mad_value"),
            "n_anomalies",
        )
        .orderBy("event_type")
    )


@query(
    "cheapest_supplier_per_part",
    oracle="""
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             CAST(min(round(l_extendedprice * 100 / l_quantity)) AS BIGINT)
               AS unit_cents
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey,
             min(struct_pack(u := unit_cents, s := l_suppkey)) AS b
      FROM unit GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_name, s.s_name,
           round(CAST(b.b.u AS DOUBLE) / 100.0, 2) AS best_unit_price
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.b.s
    WHERE p.p_partkey <= 200
    ORDER BY p.p_partkey
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's correlated-minimum shape on this schema (cheapest
    supplier per part, unit price derived from lineitem): the
    correlated subquery rewrites to an ARGMIN-BY-STRUCT aggregate —
    min(struct(price, suppkey)) per part — which is map-side
    combinable, needs NO window over the fact table, and carries the
    winning supplier out of the same aggregate that found the minimum
    (ties break to the lowest suppkey by the struct's second field,
    identically on both engines). Integer unit cents; part/supplier
    dims broadcast onto the tiny result."""
    lineitem = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") > 0)
    unit = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.round(F.col("l_extendedprice") * 100 / F.col("l_quantity")).cast("long")
        ).alias("unit_cents")
    )
    best = unit.groupBy("l_partkey").agg(
        F.min(F.struct(F.col("unit_cents").alias("u"), F.col("l_suppkey").alias("s"))).alias("b")
    )
    part = load_table(spark, "part", sf_dir).filter(F.col("p_partkey") <= 200)
    supplier = load_table(spark, "supplier", sf_dir)
    return (
        best.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("b.s"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round(F.col("b.u").cast("double") / F.lit(100.0), 2).alias(
                "best_unit_price"
            ),
        )
        .orderBy("p_partkey")
    )


@query(
    "tpch_q22_idle_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
    ),
    rich AS (
      SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
      FROM customer c, avg_bal
      WHERE c.c_acctbal > avg_bal.a
    ),
    idle AS (
      SELECT r.* FROM rich r
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = r.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2001-01-01'
      )
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS total_balance
    FROM idle GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): above-average-balance
    customers with no RECENT orders (none since 2001-01-01). The
    literal no-orders-ever predicate is near-vacuous in these
    fixtures — 0 matching rows at sf0.001/sf0.01 and exactly 1 at
    sf0.1 — so that gate verified (almost) empty-vs-empty; the date
    filter keeps the anti-join shape while the idle population is a
    stable ~19% of customers at every SF (19.3/19.0/19.0% measured),
    reported per market segment. Three classic plan moves
    in one query: the scalar AVG subquery computes once and broadcasts
    as a 1-row cross join (never re-evaluated per row), the NOT EXISTS
    decorrelates to a LEFT ANTI join on custkey with the date
    predicate pushed to the orders scan, and the report is a tiny
    segment aggregate over exact integer cents. At 100 TB the anti
    join is the one custkey exchange; the scalar stays a broadcast
    whatever the scale."""
    customer = load_table(spark, "customer", sf_dir)
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
        .select("o_custkey")
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    rich = customer.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("a")
    )
    idle = rich.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
                / F.lit(100.0),
                2,
            ).alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "lang_rebalance_plan",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    mx AS (SELECT max(n_docs) AS m FROM counts)
    SELECT c.lang, c.n_docs,
           CAST(least(4, m.m // c.n_docs) AS BIGINT) AS repeat_factor,
           CAST(c.n_docs * least(4, m.m // c.n_docs) AS BIGINT) AS effective_docs,
           round(CAST(c.n_docs * least(4, m.m // c.n_docs) AS DOUBLE) /
                 (SELECT sum(n_docs * least(4, (SELECT m FROM mx) // n_docs))
                  FROM counts), 6) AS effective_share
    FROM counts c, mx m
    ORDER BY c.lang
    """,
)
def lang_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture REBALANCING plan (the LLaMA-style epochs-per-subset
    recipe, complement of domain_mixture_sample's downsampling): per
    language, an integer repeat factor min(4, max_count // count)
    upweights scarce languages toward parity under an epoch cap, and
    the report carries the achieved effective share so the recipe is
    auditable before any data moves. All integer arithmetic until the
    final share division. Plan: one lang-grain aggregate; everything
    after runs on a |langs|-row frame."""
    docs = load_table(spark, "documents", sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    mx = counts.agg(F.max("n_docs").alias("m"))
    planned = counts.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n_docs",
        F.least(F.lit(4), F.floor(F.col("m") / F.col("n_docs"))).cast("long").alias(
            "repeat_factor"
        ),
    ).withColumn("effective_docs", F.col("n_docs") * F.col("repeat_factor"))
    tot = planned.agg(F.sum("effective_docs").alias("t"))
    return (
        planned.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "repeat_factor",
            "effective_docs",
            F.round(
                F.col("effective_docs").cast("double") / F.col("t").cast("double"), 6
            ).alias("effective_share"),
        )
        .orderBy("lang")
    )


@query(
    "oov_rate_report",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                    t -> t <> '')) AS term
      FROM documents
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rn
        FROM toks GROUP BY term
      ) WHERE rn <= 1000
    ),
    flagged AS (
      SELECT t.doc_id, t.source,
             CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN vocab v ON t.term = v.term
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(round(1000000.0 * sum(oov) / count(*)) AS BIGINT) AS oov_ppm
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def oov_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage / out-of-vocabulary audit: against a pinned
    vocabulary (the corpus's top-1000 terms by frequency, ties broken
    lexicographically — deterministic on both engines), report each
    source's OOV token rate in integer ppm. The per-source OOV spike is
    the standard signal for encoding corruption, language mislabeling,
    or domain shift before training. Plan: one vocabulary aggregate
    (map-side combinable) broadcast back onto the token stream as a
    LEFT join, one source-grain integer aggregate — the token stream is
    never shuffled."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("term")
    )
    toks = toks.localCheckpoint(eager=True)
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            bounded_axis(
                F.row_number().over(w),
                [F.col("c").desc(), F.col("term").asc()],
                "OOV vocabulary axis",
                safe_alternative="take the top-1000 via TakeOrdered (orderBy+limit) "
                "instead of a total-order rank window",
            ),
        )
        .filter(F.col("rn") <= 1000)
        .select(F.col("term").alias("v_term"))
    )
    flagged = toks.join(
        F.broadcast(vocab), F.col("term") == F.col("v_term"), "left"
    ).select(
        "source", F.when(F.col("v_term").isNull(), 1).otherwise(0).alias("oov")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").alias("n_oov"),
            F.round(F.lit(1_000_000.0) * F.sum("oov") / F.count(F.lit(1)))
            .cast("long")
            .alias("oov_ppm"),
        )
        .orderBy("source")
    )


@query(
    "multimodal_audio_windows",
    oracle="""
    WITH auds AS (
      SELECT CAST(doc_id AS VARCHAR) AS asset_id, COALESCE(text, '') AS t
      FROM documents WHERE doc_id < 40
    ),
    wins AS (
      SELECT asset_id, t,
             unnest(range(0, greatest(len(t), 0), 100)) AS start_c
      FROM auds
    )
    SELECT asset_id,
           CAST(start_c / 100 AS INT) AS window_idx,
           CAST(start_c AS INT) AS start_c,
           CAST(len(substr(t, CAST(start_c + 1 AS INT), 200)) AS INT) AS n_chars,
           md5(substr(t, CAST(start_c + 1 AS INT), 200)) AS window_md5
    FROM wins ORDER BY asset_id, window_idx
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analysis-window framing plumbing (the third multimodal
    gate, completing image features + video frame plan): overlapping
    fixed-length windows with hop over an opaque binary payload via
    Arrow-batched mapInPandas (operators/multimodal.py::
    extract_audio_windows — chars stand in for PCM samples, the STFT
    decode is the stubbed seam). Each window's md5 digest
    byte-certifies the batched-UDF slicing — an off-by-one in the hop
    arithmetic, a dropped truncated tail window, or a batch-boundary
    bug flips the hash against the oracle's substr replay. Map-only;
    explode-by-window BEFORE any kernel, so decode parallelism at
    100 TB is per-window, not per-asset."""
    from pdf_brain_spark.operators.multimodal import extract_audio_windows

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 40)
    media = docs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        F.lit("audio").alias("kind"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("content"),
    )
    return extract_audio_windows(media, win_chars=200, hop_chars=100).orderBy(
        "asset_id", "window_idx"
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
                 / 10000.0, 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the canonical
    scan-heavy query — zero joins, a scalar aggregate over a
    triple-predicate slice of the fact. The entire WHERE (ship-year
    range, discount band, quantity cap) must reach the parquet scan as
    PushedFilters, and the single sum is map-side combinable, so the
    100 TB plan is one embarrassingly-parallel scan + a 32-partition
    reduce of one row each. Revenue is summed as exact integer
    cents x discount-percent units and divided once at the end."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    return li.agg(
        F.round(F.sum(cents * disc_pct).cast("double") / 10000.0, 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "tpch_q12_ship_priority_class",
    oracle="""
    SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                THEN 'SLOW' ELSE 'FAST' END AS delay_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY delay_class
    ORDER BY delay_class
    """,
)
def tpch_q12_ship_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / order priority), adapted to
    this schema (no l_shipmode/commitdate/receiptdate: the mode column
    becomes a ship-DELAY class, slow = shipped >60 days after order).
    The signature survives intact — conditional priority counts
    pivoted inside one aggregate. The ship-year predicate prunes the
    fact scan; one orderkey shuffle joins orders, then a two-group
    map-side-combinable aggregate — no window, no second shuffle."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "delay_class",
            F.when(
                F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60), "SLOW"
            ).otherwise("FAST"),
        )
        .groupBy("delay_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution), adapted to
    this schema (the o_comment NOT LIKE filter becomes a priority
    exclusion — same plan role: a non-key predicate INSIDE the outer
    join condition, so excluded-order customers still appear with
    count 0). Two stacked aggregates: orders pre-aggregates to custkey
    grain (map-side combinable) BEFORE the outer join against the much
    smaller customer keyset, then the histogram aggregate runs over
    one row per customer — the fact is never carried through the
    join row-for-row."""
    customer = load_table(spark, "customer", sf_dir).select("c_custkey")
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    counts = (
        customer.join(per_cust, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS total_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           round(CAST(r.total_e4 AS DOUBLE) / 10000.0, 4) AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_e4 = (SELECT max(total_e4) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier, the view + scalar-max query):
    quarterly revenue per supplier, then the supplier(s) achieving the
    GLOBAL max — ties kept, which is why this is an exact-integer
    equality against a broadcast scalar and not a LIMIT 1. The fact
    aggregates once (map-side combinable, pushed date filter); the max
    is a 1-row aggregate of that supplier-grain frame cross-joined
    back (broadcast by size), and the supplier dim broadcasts onto the
    surviving row(s). The revenue view is computed exactly once —
    Spark reuses the cached logical subtree for both the max and the
    filter, mirroring the SQL view."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round((F.lit(1.0) - F.col("l_discount")) * 100).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents * disc).alias("total_e4"))
    rev = rev.localCheckpoint(eager=False)  # one physical compute of the view
    mx = rev.agg(F.max("total_e4").alias("max_e4"))
    supplier = load_table(spark, "supplier", sf_dir)
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_e4") == F.col("max_e4"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_e4").cast("double") / 10000.0, 4).alias(
                "total_revenue"
            ),
        )
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    WITH pagg AS (
      SELECT l_partkey AS pk,
             CAST(count(*) AS BIGINT) AS n_lines,
             sum(CAST(round(l_quantity) AS BIGINT)) AS sum_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0 / 7.0, 4) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small_lines
    FROM lineitem l
    JOIN pagg a ON a.pk = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND CAST(round(l.l_quantity) AS BIGINT) * 5 * a.n_lines < a.sum_qty
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    `l_quantity < 0.2 * avg(l_quantity) per part` subquery decorrelated
    into a per-part aggregate joined back onto the fact. The fractional
    threshold is made EXACT integer arithmetic: qty < sum/(5n) <=>
    qty*5*n < sum for positive counts — no float division on either
    side. The per-part aggregate is map-side combinable on the same
    partkey shuffle the join then reuses; the brand filter prunes via
    the broadcast part dim; one scalar aggregate ends the plan."""
    li = load_table(spark, "lineitem", sf_dir)
    qty = F.round(F.col("l_quantity")).cast("long")
    pagg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(qty).alias("sum_qty"),
    )
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_brand") == "Brand#3"
    ).select("p_partkey")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(pagg, F.col("pk") == F.col("l_partkey"))
        .filter(qty * 5 * F.col("n_lines") < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
                / 7.0,
                4,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * CAST(round((1.0 - l.l_discount) * 100) AS BIGINT) AS vol_e4,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey
      WHERE p.p_type = 'ECONOMY'
        AND r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol_e4
                               ELSE 0 END) AS DOUBLE)
                 / CAST(sum(vol_e4) AS DOUBLE), 6) AS mkt_share,
           round(CAST(sum(vol_e4) AS DOUBLE) / 10000.0, 4) AS total_volume
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of a
    region's ECONOMY-part import volume by order year. Seven-table
    join: nation/region broadcast (tiny dims); part is filtered but
    NOT broadcast — at 100 TB a 1/6-of-part type slice is far above
    the broadcast threshold, so it rides the l_partkey shuffle and AQE
    may still elect broadcast at small SF. The share is computed as a
    conditional-sum / sum pair inside ONE aggregate over exact integer
    e-4 volume units (no numerator re-scan), divided once at the end."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    supplier = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    customer = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey"
    )
    supp_nation = supplier.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("sn_key") == F.col("s_nationkey"),
    ).select("s_suppkey", "supp_nation")
    asia_cust = customer.join(
        F.broadcast(
            nation.join(region, F.col("r_regionkey") == F.col("n_regionkey"))
            .filter(F.col("r_name") == "ASIA")
            .select(F.col("n_nationkey").alias("cn_key"))
        ),
        F.col("cn_key") == F.col("c_nationkey"),
        "left_semi",
    ).select("c_custkey")
    vol_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((F.lit(1.0) - F.col("l_discount")) * 100).cast("long")
    )
    vol = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp_nation, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(asia_cust, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol_e4.alias("vol_e4"),
            "supp_nation",
        )
    )
    nat_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", F.col("vol_e4")).otherwise(
            F.lit(0).cast("long")
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                nat_vol.cast("double") / F.sum("vol_e4").cast("double"), 6
            ).alias("mkt_share"),
            F.round(F.sum("vol_e4").cast("double") / 10000.0, 4).alias(
                "total_volume"
            ),
        )
        .orderBy("o_year")
    )


@query(
    "tpch_q9_product_profit",
    oracle="""
    SELECT sn.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           round(CAST(sum(
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * CAST(round((1.0 - l.l_discount) * 100) AS BIGINT)
             - CAST(round(p.p_retailprice * 60) AS BIGINT)
               * CAST(round(l.l_quantity) AS BIGINT) * 100
           ) AS DOUBLE) / 10000.0, 4) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit), adapted to this schema (no
    partsupp: supply cost is a deterministic 60%-of-retail-price proxy,
    stated here so the oracle's exactness is honest, not hidden).
    Profit = revenue - cost in exact integer e-4 units: cents x
    discount-complement minus supplycost-cents x qty x 100, summed as
    BIGINT and divided once. The p_name LIKE prunes part early; the
    filtered part and the supplier->nation map join the fact, orders
    joins on the orderkey shuffle, and one (nation, year) aggregate
    ends the plan — at 100 TB the fact is touched exactly once."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").like("%gear%")
    ).select("p_partkey", "p_retailprice")
    supplier = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate"
    )
    supp_nation = supplier.join(
        F.broadcast(nation), F.col("sn_key") == F.col("s_nationkey")
    ).select("s_suppkey", "nation")
    profit_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((F.lit(1.0) - F.col("l_discount")) * 100).cast("long")
        - F.round(F.col("p_retailprice") * 60).cast("long")
        * F.round(F.col("l_quantity")).cast("long")
        * 100
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp_nation, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit_e4.alias("profit_e4"),
        )
        .groupBy("nation", "o_year")
        .agg(
            F.round(F.sum("profit_e4").cast("double") / 10000.0, 4).alias(
                "profit"
            )
        )
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@query(
    "tpch_q11_important_parts",
    oracle="""
    WITH euro_supp AS (
      SELECT s.s_suppkey FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    val AS (
      SELECT l.l_partkey AS partkey,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1.0 - l.l_discount) * 100) AS BIGINT)) AS value_e4
      FROM lineitem l
      WHERE l.l_suppkey IN (SELECT s_suppkey FROM euro_supp)
      GROUP BY l.l_partkey
    )
    SELECT partkey, round(CAST(value_e4 AS DOUBLE) / 10000.0, 4) AS value
    FROM val
    WHERE value_e4 * (SELECT count(*) FROM val) * 2
          > 3 * (SELECT sum(value_e4) FROM val)
    ORDER BY value_e4 DESC, partkey ASC
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification), adapted to
    this schema (no partsupp: 'value' is the revenue carried by
    EUROPE-region suppliers per part instead of availqty x supplycost —
    same plan skeleton). The signature is the scalar subquery in
    HAVING: the part-grain aggregate computes once (localCheckpoint
    pins the view), its 1-row global sum broadcasts back, and the
    threshold comparison is pure integer arithmetic (2 x value x
    n_parts > 3 x total, i.e. parts above 1.5x the MEAN part value —
    scale-free,
    so the gate returns a real top-tail at every SF) — no float
    division can flip a boundary row on either side. The region
    membership is a broadcast semi-join on the fact's suppkey before
    the partkey shuffle."""
    supplier = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    euro = supplier.join(
        F.broadcast(
            nation.join(region, F.col("r_regionkey") == F.col("n_regionkey"))
            .filter(F.col("r_name") == "EUROPE")
            .select("n_nationkey")
        ),
        F.col("n_nationkey") == F.col("s_nationkey"),
        "left_semi",
    ).select("s_suppkey")
    li = load_table(spark, "lineitem", sf_dir)
    vol_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((F.lit(1.0) - F.col("l_discount")) * 100).cast("long")
    )
    val = (
        li.join(F.broadcast(euro), F.col("s_suppkey") == F.col("l_suppkey"),
                "left_semi")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(vol_e4).alias("value_e4"))
    )
    val = val.localCheckpoint(eager=False)
    total = val.agg(
        F.sum("value_e4").alias("total_e4"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        val.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_e4") * F.col("n_parts") * 2 > 3 * F.col("total_e4")
        )
        .select(
            "partkey",
            F.round(F.col("value_e4").cast("double") / 10000.0, 4).alias("value"),
        )
        .orderBy(F.col("value").desc(), F.col("partkey").asc())
    )


@query(
    "tpch_q16_supplier_part_counts",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON p.p_partkey = pr.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND pr.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship), adapted to this
    schema (no partsupp: the supplier-part relation is the DISTINCT
    (partkey, suppkey) projection of lineitem; the 'customer
    complaints' comment filter becomes a negative-balance exclusion).
    The plan keeps Q16's two signatures: a NOT IN decorrelated to a
    broadcast LEFT ANTI join (the excluded-supplier set is tiny), and
    a count(DISTINCT suppkey) whose partial-distinct runs on the same
    (brand,type,size) shuffle as the final aggregate. The pair
    projection itself deduplicates map-side on the partkey shuffle the
    part join then reuses."""
    li = load_table(spark, "lineitem", sf_dir)
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    complained = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        pairs.join(
            F.broadcast(complained),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@query(
    "tpch_q20_dominant_suppliers",
    oracle="""
    WITH red96 AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(round(l.l_quantity) AS BIGINT) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'red%'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1997-01-01'
    ),
    pair AS (
      SELECT l_partkey, l_suppkey, sum(qty) AS pair_qty
      FROM red96 GROUP BY l_partkey, l_suppkey
    ),
    ptotal AS (
      SELECT l_partkey, sum(pair_qty) AS part_qty,
             CAST(count(*) AS BIGINT) AS n_supp
      FROM pair GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT pr.l_suppkey FROM pair pr
      JOIN ptotal pt ON pt.l_partkey = pr.l_partkey
      WHERE pt.n_supp >= 4 AND pr.pair_qty * pt.n_supp > 2 * pt.part_qty
    )
    ORDER BY s.s_suppkey
    """,
)
def tpch_q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion), adapted to this
    schema (no partsupp availqty: the doubly nested subquery becomes
    'suppliers shipping >2x the mean per-supplier share of a red
    part's 1996 volume, among parts with >=4 suppliers' — the same
    two-level decorrelation: an inner per-(supp,part) aggregate
    compared against a per-part aggregate OF that aggregate, collapsed
    to a supplier semi-join). Integer-exact, scale-free threshold
    (qty x n_supp > 2 x total) so the gate is selective at every SF.
    The part filter prunes the fact before the first shuffle; the
    second aggregate reuses the partkey grain; the final supplier
    semi-join carries only qualifying suppkeys."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    pair = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("pair_qty"))
    )
    ptotal = pair.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("pair_qty").alias("part_qty"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    dominant = (
        pair.join(ptotal, F.col("pk") == F.col("l_partkey"))
        .filter(
            (F.col("n_supp") >= 4)
            & (F.col("pair_qty") * F.col("n_supp") > 2 * F.col("part_qty"))
        )
        .select("l_suppkey")
    )
    supplier = load_table(spark, "supplier", sf_dir)
    return (
        supplier.join(
            dominant, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH base AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    late AS (
      SELECT * FROM base
      WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
      SELECT 1 FROM base l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM late l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    this schema (no commit/receipt dates: 'late' = shipped >90 days
    after the order date; finalized orders only). The signature is the
    EXISTS + NOT EXISTS pair over the SAME fact: the sole late
    supplier on a multi-supplier order. Both decorrelate to orderkey
    joins — a LEFT SEMI against other-supplier lines and a LEFT ANTI
    against other-supplier LATE lines — sharing the one orderkey
    shuffle the orders join already paid. The supplier dim broadcasts
    onto the surviving (small) set before a name-grain count and
    TakeOrdered(20)."""
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    base = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate"
    )
    base = base.localCheckpoint(eager=False)
    late = base.filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)
    )
    others = base.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    sole_late = (
        late.join(
            others,
            (F.col("ok2") == F.col("l_orderkey"))
            & (F.col("sk2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("ok3") == F.col("l_orderkey"))
            & (F.col("sk3") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    supplier = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_name"
    )
    return (
        sole_late.join(
            F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@query(
    "winnowing_fingerprints",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             (list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                          t -> t <> ''))[1:4194303] AS tokens
      FROM documents WHERE doc_id < 150
    ),
    eligible AS (
      SELECT doc_id, tokens, CAST(len(tokens) - 3 AS BIGINT) AS n_grams
      FROM toks WHERE len(tokens) >= 4
    ),
    grams AS (
      SELECT doc_id, n_grams,
             unnest(range(1, n_grams + 1)) AS pos,
             unnest(list_transform(range(1, n_grams + 1),
               i -> CAST(concat('0x', substr(md5(tokens[i] || ' ' || tokens[i+1]
                 || ' ' || tokens[i+2] || ' ' || tokens[i+3]), 1, 8)) AS BIGINT)
             )) AS h
      FROM eligible
    ),
    keyed AS (
      SELECT doc_id, n_grams, pos, h * 4194304 + (4194304 - pos) AS key
      FROM grams
    ),
    wins AS (
      SELECT doc_id, n_grams, pos,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey
      FROM keyed
    ),
    sel AS (
      SELECT DISTINCT doc_id, wkey FROM wins
      WHERE pos = 1 OR pos <= n_grams - 3
    )
    SELECT doc_id,
           CAST(4194304 - (wkey % 4194304) AS BIGINT) AS pos,
           CAST(wkey // 4194304 AS BIGINT) AS fp_hash
    FROM sel ORDER BY doc_id, pos
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS algorithm; k=4-gram hashes, w=4 windows,
    min-hash per window with ties to the RIGHTMOST): guarantees every
    w consecutive grams contribute a fingerprint, so any shared run of
    >= w+k-1 tokens between two documents is detected at expected
    density 2/(w+1) — the local-guarantee upgrade over the 0-mod-p
    sampling the doc_fingerprints gate uses. The tie-break is PACKED
    into the sort key (h * 2^22 + (2^22 - pos)), so one integer
    window-min implements min-then-rightmost with no argmin self-join
    and no UDF; the only exchange at 100 TB is the doc-grain sort the
    window needs (operators/dedup.py::winnowing_fingerprints)."""
    from pdf_brain_spark.operators.dedup import winnowing_fingerprints as winnow

    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 150)
    # presentation sort lives HERE, not in the operator (which would
    # pay a second all-data exchange every production call)
    return winnow(docs, k=4, w=4).orderBy("doc_id", "pos")


@query(
    "gopher_quality_rules",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         t -> t <> '') AS tokens,
             regexp_split_to_array(COALESCE(text, ''), '\n') AS lines
      FROM documents WHERE doc_id < 500
    ),
    m AS (
      SELECT doc_id,
             CAST(len(tokens) AS BIGINT) AS word_count,
             CAST(round(1000.0 * COALESCE(list_sum(
                    list_transform(tokens, t -> len(t))), 0)
                  / greatest(len(tokens), 1)) AS BIGINT) AS mean_word_len_milli,
             CAST(round(1000000.0 * len(list_filter(tokens,
                    t -> NOT regexp_matches(t, '[a-z]')))
                  / greatest(len(tokens), 1)) AS BIGINT) AS symbol_ppm,
             CAST(round(1000000.0 * len(list_filter(lines,
                    l -> regexp_matches(trim(l), '^[-*]')))
                  / greatest(len(lines), 1)) AS BIGINT) AS bullet_ppm,
             CAST(CASE WHEN list_contains(tokens, 'the') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(tokens, 'a') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(tokens, 'of') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(tokens, 'and') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(tokens, 'to') THEN 1 ELSE 0 END
               AS BIGINT) AS n_stopwords
      FROM d
    )
    SELECT doc_id, word_count, mean_word_len_milli, symbol_ppm, bullet_ppm,
           n_stopwords,
           (word_count BETWEEN 30 AND 100000
            AND mean_word_len_milli BETWEEN 3000 AND 10000
            AND symbol_ppm <= 100000
            AND bullet_ppm <= 900000
            AND n_stopwords >= 2) AS keep
    FROM m ORDER BY doc_id
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", App. A — the standard pre-training
    heuristic filter battery): word-count bounds, mean word length
    band, symbol-token ratio cap, bullet-line ratio cap, and a pinned
    stopword-presence floor, each computed in integer milli/ppm units
    so the keep decision is boundary-exact against the oracle.
    Map-only: every rule is an array expression over the tokenized
    document — no shuffle, no UDF, embarrassingly parallel at 100 TB;
    the keep column composes with the C4/repetition/perplexity gates
    already registered."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 500)
    from pdf_brain_spark.functions.text import tokenize

    toks = tokenize("text")
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    n_tok = F.greatest(F.size(toks), F.lit(1))
    sum_len = F.coalesce(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda a, x: a + x,
        ),
        F.lit(0),
    )
    n_sym = F.size(F.filter(toks, lambda t: ~t.rlike("[a-z]")))
    n_bullet = F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[-*]")))
    n_stop = sum(
        F.when(F.array_contains(toks, s), 1).otherwise(0)
        for s in ["the", "a", "of", "and", "to"]
    ).cast("long")
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("word_count"),
        F.round(F.lit(1000.0) * sum_len / n_tok).cast("long").alias(
            "mean_word_len_milli"
        ),
        F.round(F.lit(1000000.0) * n_sym / n_tok).cast("long").alias(
            "symbol_ppm"
        ),
        F.round(
            F.lit(1000000.0) * n_bullet / F.greatest(F.size(lines), F.lit(1))
        )
        .cast("long")
        .alias("bullet_ppm"),
        n_stop.alias("n_stopwords"),
    )
    return m.select(
        "*",
        (
            F.col("word_count").between(30, 100000)
            & F.col("mean_word_len_milli").between(3000, 10000)
            & (F.col("symbol_ppm") <= 100000)
            & (F.col("bullet_ppm") <= 900000)
            & (F.col("n_stopwords") >= 2)
        ).alias("keep"),
    ).orderBy("doc_id")


@query(
    "market_basket_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS orderkey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT CAST(count(DISTINCT orderkey) AS BIGINT) AS n_orders FROM ob),
    bc AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_brand
      FROM ob GROUP BY brand
    ),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ob a JOIN ob b
        ON a.orderkey = b.orderkey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT brand_a, brand_b, n_both,
           CAST(round(1000000.0 * n_both * n.n_orders
                / (ca.n_brand * cb.n_brand)) AS BIGINT) AS lift_micro
    FROM pairs
    JOIN bc ca ON ca.brand = brand_a
    JOIN bc cb ON cb.brand = brand_b
    CROSS JOIN n
    WHERE n_both >= 5
    ORDER BY lift_micro DESC, brand_a, brand_b
    LIMIT 100
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order contents: brand-pair
    co-occurrence support and lift (P(a,b)/(P(a)P(b)), quantized to
    integer micro-units after one float division identical on both
    sides). The scale discipline is the within-group pair expansion:
    the self-join runs AFTER projecting to DISTINCT (orderkey, brand),
    so per-order fan-out is bounded by the brand-universe size (25),
    never by lineitem count — the same bounded-quadratic argument as
    semdedup_report's within-cluster pairs. Brand marginals and the
    order total are tiny broadcast frames; one orderkey shuffle feeds
    both the dedup and the pair join."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("orderkey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    ob = ob.localCheckpoint(eager=False)
    n = ob.agg(F.countDistinct("orderkey").alias("n_orders"))
    bc = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_brand"))
    a = ob.select(F.col("orderkey").alias("ok_a"), F.col("brand").alias("brand_a"))
    b = ob.select(F.col("orderkey").alias("ok_b"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(
            b,
            (F.col("ok_a") == F.col("ok_b"))
            & (F.col("brand_a") < F.col("brand_b")),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    ca = bc.select(F.col("brand").alias("ba"), F.col("n_brand").alias("na"))
    cb = bc.select(F.col("brand").alias("bb"), F.col("n_brand").alias("nb"))
    return (
        pairs.join(F.broadcast(ca), F.col("ba") == F.col("brand_a"))
        .join(F.broadcast(cb), F.col("bb") == F.col("brand_b"))
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            F.round(
                F.lit(1000000.0)
                * F.col("n_both")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb"))
            )
            .cast("long")
            .alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "brand_a", "brand_b")
        .limit(100)
    )


@query(
    "events_cusum_drift",
    oracle="""
    WITH cents AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    typed AS (
      SELECT event_type, ts, event_id, c,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      FROM cents
    ),
    pref AS (
      SELECT event_type, ts, event_id, n,
             sum(n * c - tot) OVER (PARTITION BY event_type
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM typed
    ),
    cusum AS (
      SELECT event_type, ts, event_id, n, s,
             s - least(0, min(s) OVER (PARTITION BY event_type
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS up,
             greatest(0, max(s) OVER (PARTITION BY event_type
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - s AS down
      FROM pref
    ),
    ranked AS (
      SELECT event_type, ts, event_id, n, up, down,
             row_number() OVER (PARTITION BY event_type
               ORDER BY up DESC, ts ASC, event_id ASC) AS rn_up
      FROM cusum
    )
    SELECT event_type, n AS n_events,
           CAST(max(up) AS BIGINT) AS max_up,
           CAST(max(down) AS BIGINT) AS max_down,
           min(CASE WHEN rn_up = 1 THEN ts END) AS peak_up_ts
    FROM ranked
    GROUP BY event_type, n ORDER BY event_type
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift statistics (Page 1954 — the classic sequential
    change-point detector) per event series. The textbook recursion
    C_i = max(0, C_{i-1} + d_i) is not a window function, but it has
    an exact prefix form: C_i = S_i - min(0, min_{j<=i} S_j), downward
    D_i = max(0, max_{j<=i} S_j) - S_i — the clamp supplies the empty
    prefix S_0 = 0, without which a shift starting at the first row is
    lost. The whole detector is three windows on ONE (event_type,
    time) sort — no recursion, no UDF, no second exchange. Deviations are kept integer-exact by scaling:
    d_i = n*c_i - total_cents sums to zero over each series, so the
    statistics are in cents x n units and hash-comparable with no
    float mean anywhere. Report: per series, the peak upward/downward
    statistic and the timestamp of the upward peak (deterministic
    rank-1 tie-break). The prefix-form identity is proved against the
    textbook recursion on random series in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.operators.temporal import cusum_stats

    ev = load_table(spark, "events", sf_dir)
    cents = ev.select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    return cusum_stats(cents).orderBy("event_type")


@query(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o.o_custkey AS c_custkey,
             CAST(date_diff('day', max(o.o_orderdate),
                            TIMESTAMP '2001-09-01') AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders o GROUP BY o.o_custkey
    ),
    scored AS (
      SELECT c_custkey, recency_days, frequency, monetary_cents,
             CAST(ntile(4) OVER (ORDER BY recency_days ASC, c_custkey ASC)
               AS BIGINT) AS r_quartile,
             CAST(ntile(4) OVER (ORDER BY frequency DESC, c_custkey ASC)
               AS BIGINT) AS f_quartile,
             CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, c_custkey ASC)
               AS BIGINT) AS m_quartile
      FROM rfm
    )
    SELECT c_custkey, recency_days, frequency, monetary_cents,
           r_quartile, f_quartile, m_quartile,
           r_quartile * 100 + f_quartile * 10 + m_quartile AS rfm_cell
    FROM scored WHERE c_custkey < 400 ORDER BY c_custkey
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring (recency / frequency / monetary — the
    classic marketing segmentation): one custkey-grain aggregate over
    orders, then three ntile(4) windows assigning quartiles. Every
    window ORDER BY ends in the unique custkey, making ntile's bucket
    boundaries a total order — without that, equal frequencies would
    hash-mismatch nondeterministically (the same total-ordering
    discipline as supplier_rank_by_nation). r12: the three global
    ntile windows (customer-grain, the corpus-growing axis) became
    three STITCHED running counts (operators/stitched.py — descending
    dims via negated axes, custkey tiebreak) fed through the exact
    ntile_from_rank emulation (pinned against F.ntile in pytest; the
    DuckDB oracle keeps real NTILE and re-proves the emulation at
    every scale). Monetary is exact integer cents; recency is whole
    days against a pinned as-of date; the output filter keeps the gate
    bounded while the scans rank the FULL population
    (filter-after-rank, not before)."""
    from pdf_brain_spark.operators.stitched import (
        ntile_from_rank,
        stitched_prefix_sums,
    )

    orders = load_table(spark, "orders", sf_dir)
    rfm = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.max(F.col("o_orderdate"))
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    ).localCheckpoint(eager=True)  # three scans + count reuse it
    n_cust = rfm.agg(F.count(F.lit(1)).alias("nc"))

    def _qtile(dim: str, neg: bool, out: str):
        axis = (-F.col(dim)).alias("_ax") if neg else F.col(dim).alias("_ax")
        ranked = stitched_prefix_sums(
            rfm.select("c_custkey", axis).withColumn(
                "_one", F.lit(1).cast("long")
            ),
            "_ax",
            ["_one"],
            what=f"RFM customer axis ({dim})",
            tiebreak_cols=["c_custkey"],
        )
        return ranked.crossJoin(F.broadcast(n_cust)).select(
            "c_custkey",
            ntile_from_rank(F.col("_one_cum"), F.col("nc"), 4)
            .cast("long")
            .alias(out),
        )

    scored = (
        rfm.join(_qtile("recency_days", False, "r_quartile"), "c_custkey")
        .join(_qtile("frequency", True, "f_quartile"), "c_custkey")
        .join(_qtile("monetary_cents", True, "m_quartile"), "c_custkey")
        .select(
            "c_custkey", "recency_days", "frequency", "monetary_cents",
            "r_quartile", "f_quartile", "m_quartile",
        )
    )
    return (
        scored.filter(F.col("c_custkey") < 400)
        .select(
            "*",
            (
                F.col("r_quartile") * 100
                + F.col("f_quartile") * 10
                + F.col("m_quartile")
            ).alias("rfm_cell"),
        )
        .orderBy("c_custkey")
    )


@query(
    "events_hourly_seasonality",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY dow, hod
    ORDER BY dow, hod
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week seasonality matrix — the standard
    traffic-shape diagnostic behind anomaly baselines and capacity
    planning. One map-side-combinable aggregate over calendar
    projections of the timestamp. Output convention is Spark's
    1=Sunday..7; DuckDB's dayofweek is 0=Sunday..6, so the oracle
    adds 1 — the conventions differ PER ENGINE and an unbridged twin
    mismatches every row (caught at registration). At
    100 TB this is the canonical pre-aggregation served from the
    rollup store; the 168-cell result broadcasts anywhere."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.dayofweek("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .orderBy("dow", "hod")
    )


@query(
    "customer_pareto_share",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev_cents,
             CAST(row_number() OVER (ORDER BY rev_cents DESC, o_custkey ASC)
               AS BIGINT) AS rnk,
             CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cents,
             CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents,
             CAST(count(*) OVER () AS BIGINT) AS n_cust
      FROM per_cust
    )
    SELECT CAST(pct AS BIGINT) AS top_pct,
           min(rnk) AS n_customers,
           round(CAST(min(cum_cents) AS DOUBLE)
                 / CAST(min(total_cents) AS DOUBLE), 6) AS revenue_share
    FROM ranked, unnest([10, 20, 50]) AS t(pct)
    WHERE rnk * 100 >= pct * n_cust
      AND (rnk - 1) * 100 < pct * n_cust
    GROUP BY pct ORDER BY top_pct
    """,
)
def customer_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration curve: what share of revenue the
    top 10/20/50% of customers carry (the 80/20 diagnostic). One
    custkey aggregate, then the STITCHED two-level scan
    (operators/stitched.py, r12) over the negated-revenue axis with
    custkey as the tiebreak — the descending (rev DESC, custkey) total
    order, bit-stable, but DISTRIBUTED: this axis is CUSTOMER grain
    (corpus-bounded, not value-bounded), so the old single-partition
    window was the repo's one genuinely row-grain global sort; rnk is
    the running count (prefix sum of 1) and cum_cents the running
    revenue from the same scan, totals from a 1-row broadcast
    aggregate. The percentile boundary row is selected by pure integer
    arithmetic (rnk*100 straddles pct*n_cust — no float rank fraction
    to disagree at boundaries). The three probe percentiles explode
    AFTER ranking, so the scan runs once. The one float division
    (share) happens at the very end, identically on both sides; the
    DuckDB oracle keeps the textbook global-window form and re-proves
    the scan every round."""
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    orders = load_table(spark, "orders", sf_dir)
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    tot = per_cust.agg(
        F.sum("rev_cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    ranked = (
        stitched_prefix_sums(
            per_cust.withColumn("_neg", -F.col("rev_cents")).withColumn(
                "_one", F.lit(1).cast("long")
            ),
            "_neg",
            ["_one", "rev_cents"],
            what="Pareto customer axis",
            tiebreak_cols=["o_custkey"],
        )
        .select(
            "o_custkey",
            "rev_cents",
            F.col("_one_cum").cast("long").alias("rnk"),
            F.col("rev_cents_cum").alias("cum_cents"),
        )
        .crossJoin(F.broadcast(tot))  # broadcast 1-row corpus totals
    )
    probes = ranked.crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(F.array(F.lit(10), F.lit(20), F.lit(50))).alias("pct")
            )
        )
    )
    return (
        probes.filter(
            (F.col("rnk") * 100 >= F.col("pct") * F.col("n_cust"))
            & ((F.col("rnk") - 1) * 100 < F.col("pct") * F.col("n_cust"))
        )
        .groupBy(F.col("pct").cast("long").alias("top_pct"))
        .agg(
            F.min("rnk").alias("n_customers"),
            F.round(
                F.min("cum_cents").cast("double")
                / F.min("total_cents").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("top_pct")
    )


@query(
    "nation_supplier_hhi",
    oracle="""
    WITH per_supp AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    shares AS (
      SELECT n.n_name AS nation, p.l_suppkey,
             CAST(round(1000000.0 * p.rev_cents /
               CAST(sum(p.rev_cents) OVER (PARTITION BY p.s_nationkey)
                 AS DOUBLE)) AS BIGINT) AS share_ppm
      FROM per_supp p JOIN nation n ON n.n_nationkey = p.s_nationkey
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
    FROM shares GROUP BY nation ORDER BY nation
    """,
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per nation: the
    sum of squared supplier revenue shares (10000-point scale, here
    ppm: a 1-supplier monopoly scores 1,000,000; N equal suppliers
    score 1,000,000/N). Shares are quantized to integer ppm FIRST —
    one float division per supplier, identical on both sides — then
    the index is pure integer (sum of squares, floor-divided back to
    ppm), so no squared-double summation order can flip the hash. One
    (nation, supplier) aggregate, one nation-partition window for the
    denominators, one tiny nation aggregate. Supplier dim broadcasts
    onto the fact; the sum-of-squares floor-divides with DuckDB's `//`
    (its `/` is float division), mirrored with F.floor on Spark."""
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    per_supp = (
        li.join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    wn = Window.partitionBy("s_nationkey")
    shares = per_supp.join(
        F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
    ).select(
        "nation",
        F.round(
            F.lit(1000000.0)
            * F.col("rev_cents")
            / F.sum("rev_cents").over(wn).cast("double")
        )
        .cast("long")
        .alias("share_ppm"),
    )
    return (
        shares.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.floor(
                F.sum(F.col("share_ppm") * F.col("share_ppm")) / 1000000
            )
            .cast("long")
            .alias("hhi_ppm"),
        )
        .orderBy("nation")
    )


@query(
    "tfidf_cosine_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         t -> t <> '') AS tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(tokens) - 1, 1)),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
               AS term
      FROM toks
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM grams GROUP BY doc_id, term
    ),
    stats AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM toks),
    weights AS (
      SELECT t.doc_id, t.term,
             t.tf * CAST(round(1000000.0 *
               (ln((1.0 + n.n_docs) / (1.0 + s.df)) + 1.0)) AS BIGINT) AS w
      FROM tf t JOIN stats s ON s.term = t.term CROSS JOIN n
      WHERE s.df <= {SHINGLE_DF_CAP}
    ),
    norms AS (
      SELECT doc_id, sum(w * w) AS n2
      FROM weights GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.w * b.w) AS dot
      FROM weights a JOIN weights b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(dot AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.25
    ORDER BY doc_a, doc_b
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE cosine similarity join — the classic IR pairing that
    completes the similarity-join family (dense-embedding cosine:
    vector_similarity_join; set Jaccard: dedup_ngram_jaccard; this is
    the weighted-bag middle ground): tf-idf over 3-gram shingles with
    the smoothed sklearn idf, paired through the shingle INVERTED
    INDEX so only documents sharing a surviving shingle ever meet — no
    all-pairs path, and the same SHINGLE_DF_CAP=512 stop-shingle cut
    as the Jaccard operator bounds the hottest posting list (the
    cap applies before weights AND norms, consistently on both
    engines). Exactness: idf is quantized to integer micro-units at
    TERM grain (one ln per term, identical doubles both sides), so
    weights, dots, and squared norms are all EXACT INTEGERS —
    summed as decimal(38,0) on Spark and HUGEINT on DuckDB, so even a
    pathological document cannot silently wrap an int64 — and the only
    float math is the final one-expression cosine — no accumulation-order noise can
    flip the 6-dp hash. At 100 TB: two shuffles (term, then pair),
    DF-capped fan-out, map-side-combinable aggregates throughout."""
    from pdf_brain_spark.functions.text import shingles, tokenize
    from pdf_brain_spark.operators.dedup import SHINGLE_DF_CAP

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", tokenize("text").alias("tokens"))
    grams = toks.select(
        "doc_id", F.explode(shingles("tokens", 3)).alias("term")
    )
    tf = grams.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = toks.agg(F.count(F.lit(1)).alias("n_docs"))
    idf_micro = F.round(
        F.lit(1000000.0)
        * (
            F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df")))
            + F.lit(1.0)
        )
    ).cast("long")
    weights = (
        tf.join(stats.filter(F.col("df") <= SHINGLE_DF_CAP), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", (F.col("tf") * idf_micro).alias("w"))
    )
    weights = weights.localCheckpoint(eager=False)
    # sums run in decimal(38,0) — exact like DuckDB's HUGEINT; a plain
    # long sum would WRAP silently past 2^63 on a pathological document
    # while the oracle hard-errors, a latent cross-engine divergence
    wd = F.col("w").cast("decimal(38,0)")
    norms = weights.groupBy("doc_id").agg(F.sum(wd * wd).alias("n2"))
    a = weights.select(
        F.col("doc_id").alias("doc_a"), "term",
        F.col("w").cast("decimal(38,0)").alias("wa"),
    )
    b = weights.select(
        F.col("doc_id").alias("doc_b"), F.col("term").alias("term_b"),
        F.col("w").cast("decimal(38,0)").alias("wb"),
    )
    dots = (
        a.join(b, (F.col("term") == F.col("term_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("da"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("db"), F.col("n2").alias("nb2"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(na, F.col("da") == F.col("doc_a"))
        .join(nb, F.col("db") == F.col("doc_b"))
        .filter(cos >= 0.25)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


_sub_shingle_cap()  # this oracle registered after the first substitution pass


@query(
    "taxonomy_shortest_paths",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT o_orderkey AS src, o_orderkey // 2 AS dst
      FROM orders WHERE o_orderkey BETWEEN 2 AND 2048
      UNION ALL
      SELECT o_orderkey // 2 AS src, o_orderkey AS dst
      FROM orders WHERE o_orderkey BETWEEN 2 AND 2048
    ),
    walk AS (
      SELECT CAST(40 AS BIGINT) AS node, 0 AS hops
      UNION ALL
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.hops < 6
    )
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node ORDER BY node
    """,
)
def taxonomy_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop UNDIRECTED shortest paths (BFS min-hops from a
    mid-tree seed over the same parent-halving hierarchy
    transitive_closure walks): the min-plus complement of the
    reachability closure — the frontier carries and MERGES a hop
    count instead of a bare visited set, so already-settled nodes
    never re-expand (dist is min-folded each round, the Bellman-Ford
    early-settle property). Same scale shape as the closure: per
    iteration one frontier equi-join against the edge list +
    localCheckpoint to cut the growing lineage; 6 iterations pinned to
    match the oracle's hop bound. The oracle is a recursive CTE whose
    per-level expansion mirrors the frontier exactly."""
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderkey").between(2, 2048)
    )
    child = orders.select(
        F.col("o_orderkey").alias("src"),
        F.floor(F.col("o_orderkey") / 2).cast("long").alias("dst"),
    )
    edges = child.unionByName(
        child.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    dist = spark.createDataFrame([(40, 0)], "node long, hops long")
    for h in range(1, 7):
        frontier = dist.filter(F.col("hops") == h - 1)
        nxt = (
            frontier.join(edges, F.col("src") == F.col("node"))
            .select(F.col("dst").alias("node"), F.lit(h).cast("long").alias("hops"))
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=True)
        )
    return dist.orderBy("node")


@query(
    "events_ushape_attribution",
    oracle="""
    WITH touches AS (
      SELECT user_id, event_type, event_id, value, epoch_us(ts) AS us
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    ordered AS (
      SELECT *,
             COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id
                     ORDER BY us, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END,
                              event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS jid
      FROM touches
    ),
    clicks AS (
      SELECT user_id, jid, event_id, us,
             row_number() OVER (PARTITION BY user_id, jid
               ORDER BY us ASC, event_id ASC) AS rn_a,
             row_number() OVER (PARTITION BY user_id, jid
               ORDER BY us DESC, event_id DESC) AS rn_d
      FROM ordered WHERE event_type = 'click'
    ),
    cagg AS (
      SELECT user_id, jid,
             CAST(count(*) AS BIGINT) AS n_touches,
             CAST(min(CASE WHEN rn_a = 1 THEN event_id END) AS BIGINT)
               AS first_click_id,
             CAST(min(CASE WHEN rn_d = 1 THEN event_id END) AS BIGINT)
               AS last_click_id
      FROM clicks GROUP BY user_id, jid
    ),
    purch AS (
      SELECT user_id, jid,
             CAST(min(event_id) AS BIGINT) AS purchase_id,
             CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM ordered WHERE event_type = 'purchase' GROUP BY user_id, jid
    ),
    j AS (
      SELECT c.*, p.purchase_id, p.cents,
             CASE WHEN c.n_touches = 1 THEN 1000000
                  WHEN c.n_touches = 2 THEN 500000
                  ELSE 400000 END AS first_ppm,
             CASE WHEN c.n_touches = 1 THEN 0
                  WHEN c.n_touches = 2 THEN 500000
                  ELSE 400000 END AS last_ppm,
             CASE WHEN c.n_touches >= 3 THEN 200000 // (c.n_touches - 2)
                  ELSE 0 END AS middle_ppm_each
      FROM cagg c JOIN purch p ON p.user_id = c.user_id AND p.jid = c.jid
    )
    SELECT user_id, CAST(jid AS BIGINT) AS jid, purchase_id, cents,
           n_touches, first_click_id, last_click_id,
           CAST(first_ppm AS BIGINT) AS first_ppm,
           CAST(last_ppm AS BIGINT) AS last_ppm,
           CAST(middle_ppm_each AS BIGINT) AS middle_ppm_each,
           CAST(1000000 - first_ppm - last_ppm
                - middle_ppm_each * greatest(n_touches - 2, 0) AS BIGINT)
             AS leftover_ppm
    FROM j ORDER BY user_id, jid
    """,
)
def events_ushape_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based 40/20/40) multi-touch attribution — the
    standard mid-funnel complement to events_last_touch_attribution:
    each purchase's journey is the clicks since the previous purchase
    (journey id = running count of STRICTLY-PRIOR purchases, computed
    with the same click-before-purchase tie order the last-touch gate
    pins), first and last touch get 40% each, middles split 20%
    evenly. All credit is integer ppm with floor division; the
    indivisible remainder is reported as leftover_ppm rather than
    silently smeared (single-touch journeys: 100/0; two-touch:
    50/50). Plan: one user-grain sort feeds the journey-id window and
    both first/last rank windows; journey aggregates are map-side
    combinable; purchases join clicks at (user, journey) grain."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    touches = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "event_type", "event_id", "value",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    wj = (
        Window.partitionBy("user_id")
        .orderBy(
            "us",
            F.when(F.col("event_type") == "click", 0).otherwise(1),
            "event_id",
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = touches.withColumn(
        "jid",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(wj),
            F.lit(0),
        ),
    )
    clicks = ordered.filter(F.col("event_type") == "click")
    wa = Window.partitionBy("user_id", "jid").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("user_id", "jid").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    cagg = (
        clicks.withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
        .groupBy("user_id", "jid")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.min(F.when(F.col("rn_a") == 1, F.col("event_id"))).alias(
                "first_click_id"
            ),
            F.min(F.when(F.col("rn_d") == 1, F.col("event_id"))).alias(
                "last_click_id"
            ),
        )
    )
    purch = (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("pu"), F.col("jid").alias("pj"))
        .agg(
            F.min("event_id").alias("purchase_id"),
            F.min(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    n = F.col("n_touches")
    first_ppm = (
        F.when(n == 1, 1000000).when(n == 2, 500000).otherwise(400000)
    ).cast("long")
    last_ppm = (F.when(n == 1, 0).when(n == 2, 500000).otherwise(400000)).cast(
        "long"
    )
    middle = F.when(n >= 3, F.floor(200000 / (n - 2))).otherwise(0).cast("long")
    return (
        cagg.join(
            purch,
            (F.col("pu") == F.col("user_id")) & (F.col("pj") == F.col("jid")),
        )
        .select(
            "user_id",
            F.col("jid").cast("long").alias("jid"),
            "purchase_id",
            "cents",
            "n_touches",
            "first_click_id",
            "last_click_id",
            first_ppm.alias("first_ppm"),
            last_ppm.alias("last_ppm"),
            middle.alias("middle_ppm_each"),
            (
                F.lit(1000000)
                - first_ppm
                - last_ppm
                - middle * F.greatest(n - 2, F.lit(0))
            )
            .cast("long")
            .alias("leftover_ppm"),
        )
        .orderBy("user_id", "jid")
    )


@query(
    "part_cooccurrence_triangles",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_orderkey % 8 = 1
    ),
    e AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    ),
    tri AS (
      SELECT w.u AS a, w.v AS b, e2.v AS c
      FROM e w JOIN e e2 ON e2.u = w.v
      JOIN e e3 ON e3.u = w.u AND e3.v = e2.v
    ),
    troles AS (
      SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
    ),
    tcnt AS (SELECT node, count(*) AS triangles FROM troles GROUP BY node),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    )
    SELECT d.node, d.degree, COALESCE(t.triangles, 0) AS triangles,
           CASE WHEN d.degree >= 2
                THEN round(2.0 * COALESCE(t.triangles, 0) / (d.degree * (d.degree - 1)), 6)
                ELSE 0.0 END AS lcc
    FROM deg d LEFT JOIN tcnt t ON t.node = d.node
    ORDER BY d.node
    """,
)
def part_cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the part
    co-purchase graph (parts sharing an order, 1-in-8 order sample —
    proportional thinning, so the subgraph stays representative at any
    SF). The 2-hop closure of analyze-tags.ts's pair counts: wedges from
    one equi-join on the middle node, closed by a broadcast edge join,
    node-id oriented so each triangle enumerates exactly once. Pair
    emission is bounded per order (≤ C(13,2) here), the 100 TB-safe
    projection shape; degree-ordered orientation is the swap-in for
    graphs with hubs. Exact integer counts; lcc is one float division."""
    from pdf_brain_spark.operators.graph import cooccurrence_edges, triangle_counts

    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_orderkey") % 8 == 1)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return triangle_counts(edges).orderBy("node")


@query(
    "quality_signal_auc",
    oracle="""
    WITH scored AS (
      SELECT source, CAST(n_chars // 32 AS BIGINT) AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    ranked AS (
      SELECT source, score, pos,
             2 * rank() OVER (PARTITION BY source ORDER BY score ASC)
               + count(*) OVER (PARTITION BY source, score) - 1 AS r2
      FROM scored
    ),
    agg AS (
      SELECT source,
             CAST(sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END) AS BIGINT) AS s2,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(1 - pos) AS BIGINT) AS n_neg
      FROM ranked GROUP BY source
    )
    SELECT source, n_pos, n_neg,
           round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
    FROM agg
    WHERE n_pos > 0 AND n_neg > 0
    ORDER BY source
    """,
)
def quality_signal_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC AUC of a quality signal (bucketed doc length)
    against a binary slice (lang = 'en') — classifier evaluation without
    sampling or sklearn, via the Mann-Whitney rank-sum. Tie-averaged
    ranks stay integral by doubling (2r + c - 1), so the whole statistic
    is exact integers until one final division; the oracle's recursive
    window mirrors rank-for-rank. One shuffle on the group key."""
    from pdf_brain_spark.operators.graph import grouped_auc

    docs = load_table(spark, "documents", sf_dir).select(
        "source",
        F.floor(F.col("n_chars") / 32).cast("long").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    return grouped_auc(docs, "source", "score", "pos").orderBy("source")


@query(
    "part_skyline",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_size, CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    ),
    bysize AS (SELECT p_size, min(cents) AS mcents FROM p GROUP BY p_size),
    frontier AS (
      SELECT p_size, mcents,
             min(mcents) OVER (ORDER BY p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_larger
      FROM bysize
    )
    SELECT p.p_partkey, CAST(p.p_size AS BIGINT) AS p_size, p.cents
    FROM p JOIN frontier f ON f.p_size = p.p_size
    WHERE p.cents = f.mcents AND (f.best_larger IS NULL OR f.best_larger > p.cents)
    ORDER BY p.p_size DESC, p.p_partkey
    """,
)
def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of parts (maximize size, minimize price): the rows
    no other part beats on both dims. NOT the O(n²) dominance self-join:
    one groupBy reduces the table to per-size minima, the frontier
    running-min is a window over that ≤|sizes|-row aggregate, and the
    verdict joins back as a broadcast — a 100 TB skyline in one shuffle
    when the maximize dim has bounded cardinality. Prices compare in
    exact integer cents."""
    from pdf_brain_spark.operators.graph import skyline_2d

    p = load_table(spark, "part", sf_dir).select(
        "p_partkey",
        F.col("p_size").cast("long").alias("p_size"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    return skyline_2d(p, "p_size", "cents").orderBy(
        F.col("p_size").desc(), "p_partkey"
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
    kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(DISTINCT doc_id) <= {{SHINGLE_DF_CAP}}
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, CAST(intersection AS BIGINT) AS common_shingles,
           round(CAST(intersection AS DOUBLE) / sa.set_size, 6) AS containment_a,
           round(CAST(intersection AS DOUBLE) / sb.set_size, 6) AS containment_b
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(intersection AS DOUBLE) / least(sa.set_size, sb.set_size) >= 0.2
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC set-containment near-dup pairs (|A∩B|/|A| per side) —
    what Jaccard misses on length-skewed corpora: a short doc embedded
    in a long one scores ≈1 on its side while Jaccard stays near the
    length ratio. Same DF-capped inverted-index shape as
    dedup_ngram_jaccard (pairs meet only on shared shingles), threshold
    on the larger side. Exact integer counts; two single-division
    floats."""
    from pdf_brain_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.2
    ).orderBy("doc_a", "doc_b")


_sub_shingle_cap()  # dedup_containment registered after earlier passes


@query(
    "supplier_peak_inflight",
    oracle="""
    WITH iv AS (
      SELECT l_suppkey AS k, l_shipdate AS s,
             l_shipdate + (1 + CAST(l_quantity AS INT) % 7) * INTERVAL 1 DAY AS e
      FROM lineitem
    ),
    deltas AS (
      SELECT k, ts, SUM(d) AS delta FROM (
        SELECT k, s AS ts, 1 AS d FROM iv
        UNION ALL
        SELECT k, e AS ts, -1 AS d FROM iv
      ) GROUP BY k, ts
    ),
    runs AS (
      SELECT k, ts, sum(delta) OVER (PARTITION BY k ORDER BY ts) AS run
      FROM deltas
    ),
    mx AS (
      SELECT k, ts, run, max(run) OVER (PARTITION BY k) AS peak FROM runs
    )
    SELECT k AS l_suppkey, CAST(peak AS BIGINT) AS peak, min(ts) AS peak_ts
    FROM mx WHERE run = peak GROUP BY k, peak ORDER BY k
    """,
)
def supplier_peak_inflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak in-flight shipments per supplier — sweep-line interval
    concurrency (operators/temporal.py::peak_concurrency) over transit
    windows [shipdate, shipdate + 1..7 days) derived deterministically
    from quantity. Deltas pre-aggregate per (supplier, instant) before
    the running sum, so half-open end==start handoffs never overlap and
    the result is row-order independent on both engines; the peak and
    its first instant reuse one key exchange, no self-join. Exact
    integer day offsets via a day-time interval (tz-type agnostic)."""
    from pdf_brain_spark.operators.temporal import peak_concurrency

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey",
        F.col("l_shipdate").alias("start_ts"),
        (
            F.col("l_shipdate")
            + F.make_dt_interval(
                days=F.lit(1) + F.col("l_quantity").cast("int") % 7
            )
        ).alias("end_ts"),
    )
    return peak_concurrency(li, "l_suppkey", "start_ts", "end_ts").orderBy(
        "l_suppkey"
    )


@query(
    "part_name_fuzzy_pairs",
    oracle="""
    WITH names AS (
      SELECT p_name AS name, count(*) AS n_rows FROM part GROUP BY 1
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           CAST(a.n_rows AS BIGINT) AS rows_a,
           CAST(b.n_rows AS BIGINT) AS rows_b
    FROM names a JOIN names b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    ORDER BY name_a, name_b
    """,
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy match over part names: Levenshtein ≤ 3 pairs
    of the DISTINCT name domain, each carrying the row counts a merge
    would touch. The domain-grain reduction is the scale story — the
    pair join is |distinct names|² behind a hard cap, independent of
    fact-table row count, with the JVM threshold-Levenshtein
    early-exiting the DP (operators/dedup.py::fuzzy_domain_pairs).
    Free-text columns are refused and belong to the q-gram family."""
    from pdf_brain_spark.operators.dedup import fuzzy_domain_pairs

    return fuzzy_domain_pairs(
        load_table(spark, "part", sf_dir), "p_name", max_dist=3
    ).orderBy("name_a", "name_b")


@query(
    "events_ab_test",
    oracle="""
    WITH u AS (
      SELECT user_id % 2 AS v, user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    s AS (SELECT v, count(*) AS users, sum(conv) AS converted FROM u GROUP BY v),
    w AS (
      SELECT
        CAST(sum(CASE WHEN v = 0 THEN users END) AS BIGINT) AS users_a,
        CAST(sum(CASE WHEN v = 0 THEN converted END) AS BIGINT) AS conv_a,
        CAST(sum(CASE WHEN v = 1 THEN users END) AS BIGINT) AS users_b,
        CAST(sum(CASE WHEN v = 1 THEN converted END) AS BIGINT) AS conv_b
      FROM s
    ),
    se AS (
      SELECT *,
             sqrt(
               (CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
               * (1.0 / users_a + 1.0 / users_b)
             ) AS stderr
      FROM w
    )
    SELECT users_a, conv_a, users_b, conv_b,
           round(CAST(conv_a AS DOUBLE) / users_a, 6) AS rate_a,
           round(CAST(conv_b AS DOUBLE) / users_b, 6) AS rate_b,
           CASE WHEN stderr > 0 THEN round(
             (CAST(conv_a AS DOUBLE) / users_a - CAST(conv_b AS DOUBLE) / users_b)
             / stderr, 6) END AS z_score
    FROM se
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between user cohorts (user_id parity as the
    assignment hash): did variant A's purchase conversion differ from
    B's? User-grain converted flags reduce map-side first (one shuffle
    at user grain, one at the 2-row variant grain), then the pooled
    z-statistic is a single arithmetic expression over four exact
    integers — bit-identical on any IEEE engine, no sampling, no scipy.
    The same shape serves any experiment readout at 100 TB: the heavy
    work is the user-grain dedup, everything after is constant-size."""
    ev = load_table(spark, "events", sf_dir)
    users = ev.groupBy(
        (F.col("user_id") % 2).alias("v"), "user_id"
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    s = users.groupBy("v").agg(
        F.count(F.lit(1)).alias("users"), F.sum("conv").alias("converted")
    )
    w = s.groupBy().agg(
        F.sum(F.when(F.col("v") == 0, F.col("users"))).cast("long").alias("users_a"),
        F.sum(F.when(F.col("v") == 0, F.col("converted"))).cast("long").alias("conv_a"),
        F.sum(F.when(F.col("v") == 1, F.col("users"))).cast("long").alias("users_b"),
        F.sum(F.when(F.col("v") == 1, F.col("converted"))).cast("long").alias("conv_b"),
    )
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("users_a") + F.col("users_b")
    )
    se = w.withColumn(
        "stderr",
        F.sqrt(
            pooled
            * (F.lit(1.0) - pooled)
            * (F.lit(1.0) / F.col("users_a") + F.lit(1.0) / F.col("users_b"))
        ),
    )
    z = (
        F.col("conv_a").cast("double") / F.col("users_a")
        - F.col("conv_b").cast("double") / F.col("users_b")
    ) / F.col("stderr")
    return se.select(
        "users_a",
        "conv_a",
        "users_b",
        "conv_b",
        F.round(F.col("conv_a").cast("double") / F.col("users_a"), 6).alias("rate_a"),
        F.round(F.col("conv_b").cast("double") / F.col("users_b"), 6).alias("rate_b"),
        F.when(F.col("stderr") > 0, F.round(z, 6)).alias("z_score"),
    )


@query(
    "term_pmi_pairs",
    oracle="""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS arr
      FROM documents
    ),
    kept AS (SELECT arr FROM toks WHERE len(arr) >= 2),
    totals AS (
      SELECT CAST(sum(len(arr)) AS BIGINT) AS t_tokens,
             CAST(sum(len(arr) - 1) AS BIGINT) AS b_slots
      FROM kept
    ),
    uni AS (
      SELECT term, count(*) AS n
      FROM (SELECT unnest(arr) AS term FROM kept) GROUP BY 1
    ),
    bi AS (
      SELECT term_a, term_b, count(*) AS n_ab
      FROM (
        SELECT unnest(arr[1:len(arr) - 1]) AS term_a,
               unnest(arr[2:len(arr)]) AS term_b
        FROM kept
      )
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
           CAST(round(ln(
             (CAST(n_ab AS DOUBLE) * t.t_tokens * t.t_tokens)
             / (CAST(t.b_slots AS DOUBLE) * na.n * nb.n)
           ) * 1000000) AS BIGINT) AS pmi_micro_nats
    FROM bi
    JOIN uni na ON na.term = term_a
    JOIN uni nb ON nb.term = term_b, totals t
    WHERE CAST(round(ln(
            (CAST(n_ab AS DOUBLE) * t.t_tokens * t.t_tokens)
            / (CAST(t.b_slots AS DOUBLE) * na.n * nb.n)
          ) * 1000000) AS BIGINT) > 0
    ORDER BY term_a, term_b
    """,
)
def term_pmi_pairs(
    spark: SparkSession, sf_dir: str, shared_toks: DataFrame | None = None
) -> DataFrame:
    """Collocation mining: positive-PMI adjacent bigrams (Church &
    Hanks 1990) — the statistic behind phrase detection and
    compound-token induction in corpus prep. Bigram emission is a
    consecutive-position zip (len−1 per doc, linear — no pairing join);
    marginals and totals are exact integer occurrence counts; PMI lands
    as integer micro-nats of one exact-integer rational, the
    established engine-portable log encoding
    (operators/analytics.py::pmi_pairs). Directional: pmi(a→b) ≠
    pmi(b→a). ``shared_toks``: the suite_term_stats shared token-array
    table (r17) — pmi consumes its `_toks` column instead of
    re-tokenizing and re-checkpointing the corpus."""
    from pdf_brain_spark.operators.analytics import pmi_pairs

    toks = (
        shared_toks.select(F.col("_toks").alias("_t"))
        if shared_toks is not None
        else None
    )
    return pmi_pairs(load_table(spark, "documents", sf_dir), toks=toks).orderBy(
        "term_a", "term_b"
    )


@query(
    "benford_digit_audit",
    oracle="""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM c),
    counts AS (SELECT digit, count(*) AS observed FROM d GROUP BY 1),
    t AS (SELECT sum(observed) AS total FROM counts)
    SELECT CAST(digit AS BIGINT) AS digit,
           CAST(observed AS BIGINT) AS observed,
           CAST((observed * 1000000) // total AS BIGINT) AS observed_ppm,
           CAST(round(log10(1 + 1.0 / digit) * 1000000) AS BIGINT) AS expected_ppm,
           CAST((observed * 1000000) // total
                - round(log10(1 + 1.0 / digit) * 1000000) AS BIGINT) AS deviation_ppm
    FROM counts, t ORDER BY digit
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) audit of order totals — the forensic
    screen for fabricated or truncated numeric columns. Per-digit
    observed counts against round(log10(1+1/d)·1e6) expected ppm; the
    observed share uses exact integer floor division (DIV, overflow-safe
    past 2^53 where float floor would round) so both engines agree to
    the ppm. One map-side-combinable groupBy over the scan + a 9-row
    broadcast of the total; output is always ≤ 9 rows at any scale."""
    o = load_table(spark, "orders", sf_dir).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    counts = (
        o.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    total = counts.select(F.sum("observed").alias("total"))
    expected = F.round(
        F.log10(F.lit(1) + F.lit(1.0) / F.col("digit")) * 1000000
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("digit").cast("long").alias("digit"),
            F.col("observed").cast("long").alias("observed"),
            F.expr("(observed * 1000000) DIV total").alias("observed_ppm"),
            expected.alias("expected_ppm"),
            (F.expr("(observed * 1000000) DIV total") - expected).alias(
                "deviation_ppm"
            ),
        )
        .orderBy("digit")
    )


@query(
    "events_ewma_hourly",
    oracle="""
    WITH RECURSIVE series AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    pts AS (
      SELECT event_type, bucket, x,
             row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS i
      FROM series
    ),
    r AS (
      SELECT event_type, i, bucket, x, x * 8 AS s FROM pts WHERE i = 1
      UNION ALL
      SELECT p.event_type, p.i, p.bucket, p.x, r.s + ((p.x * 8 - r.s) >> 3)
      FROM r JOIN pts p ON p.event_type = r.event_type AND p.i = r.i + 1
    )
    SELECT event_type, bucket, CAST(x AS BIGINT) AS x,
           CAST(s AS BIGINT) AS ewma_scaled,
           round(s / 8.0, 6) AS ewma
    FROM r ORDER BY event_type, bucket
    """,
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed hourly event counts per type (alpha = 1/8), the
    control-chart level tracker complementing the CUSUM shift detector.
    The recursion runs entirely in scaled integers with ARITHMETIC-shift
    floor division (operators/temporal.py::ewma_smooth), so every step
    of the history is bit-reproducible against the recursive-CTE twin —
    no float ever accumulates. Series grain is (type × hour), bounded;
    the fold happens after the one map-side-combinable count groupBy."""
    from pdf_brain_spark.operators.temporal import ewma_smooth

    series = (
        load_table(spark, "events", sf_dir)
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return ewma_smooth(series, "event_type", "bucket", "x", k=3).orderBy(
        "event_type", "bucket"
    )


@query(
    "nation_revenue_trend",
    oracle="""
    WITH daily AS (
      SELECT n.n_name,
             datediff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE)) AS day_idx,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT n_name, count(*) AS n,
             sum(CAST(day_idx AS HUGEINT)) AS sx,
             sum(CAST(day_cents AS HUGEINT)) AS sy,
             sum(CAST(day_idx AS HUGEINT) * day_idx) AS sxx,
             sum(CAST(day_idx AS HUGEINT) * day_cents) AS sxy
      FROM daily GROUP BY 1
    )
    SELECT n_name, CAST(n AS BIGINT) AS n_points,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             round((CAST(sy AS DOUBLE)
                    - (CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE), 6) END AS intercept
    FROM m ORDER BY n_name
    """,
)
def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS trend of daily order revenue (cents/day slope +
    intercept): is each market growing? Revenue pre-aggregates to the
    (nation, day) grain FIRST — regression over the bounded time axis,
    not raw orders — then the fit is one moment-sum aggregate with
    decimal-38 accumulators mirroring DuckDB's HUGEINT exactly
    (operators/analytics.py::grouped_ols); the only floats are the two
    final divisions of identical exact integers. Dims broadcast; the
    one real shuffle is the day-grain groupBy."""
    from pdf_brain_spark.operators.analytics import grouped_ols

    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    daily = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias(
                "day_idx"
            ),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("day_cents")
        )
    )
    return grouped_ols(daily, "n_name", "day_idx", "day_cents").orderBy(
        "n_name"
    )


@query(
    "source_token_entropy",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    counts AS (SELECT source, term, count(*) AS n FROM toks GROUP BY 1, 2),
    agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(sum(n * CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT))
                  AS BIGINT) AS s
      FROM counts GROUP BY 1
    )
    SELECT source, n_terms, total_tokens,
           CAST(round(ln(CAST(total_tokens AS DOUBLE)) * 1000000) AS BIGINT)
             - s // total_tokens AS entropy_micro_nats
    FROM agg ORDER BY source
    """,
)
def source_token_entropy(
    spark: SparkSession, sf_dir: str, shared_counts: DataFrame | None = None
) -> DataFrame:
    """Shannon entropy of each source's token distribution in integer
    micro-nats — the evenness/quality signal that flags template spam
    (entropy far below ln(vocab)) and mode-collapsed generators. Every
    ln rounds to an integer BEFORE summation
    (operators/analytics.py::token_entropy), so engine float-summation
    order never matters; both divisions are integer DIV of positive
    operands (floor == truncate). Two map-side-combinable groupBys.
    ``shared_counts``: the suite_term_stats shared (source, term, c)
    table (r17) — identical to the member's own first groupBy."""
    from pdf_brain_spark.operators.analytics import token_entropy

    counts = (
        shared_counts.select("source", "term", F.col("c").alias("n"))
        if shared_counts is not None
        else None
    )
    return token_entropy(
        load_table(spark, "documents", sf_dir), "source", counts=counts
    ).orderBy("source")


@query(
    "stratified_neyman_sample",
    oracle="""
    WITH s AS (
      SELECT source, count(*) AS n_h,
             CAST(count(*) AS HUGEINT) * sum(n_chars * n_chars)
               - CAST(sum(n_chars) AS HUGEINT) * sum(n_chars) AS v
      FROM documents GROUP BY 1
    ),
    sc AS (
      SELECT source, n_h,
             CAST(round(sqrt(CAST(v AS DOUBLE))) AS BIGINT) AS score
      FROM s
    ),
    t AS (
      SELECT sum(score) AS tot, sum(n_h) AS n_docs FROM sc
    ),
    alloc AS (
      SELECT source, n_h, score,
             CAST(((n_docs // 10) * score) // tot AS BIGINT) AS n_alloc
      FROM sc, t
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk, a.n_alloc
    FROM ranked r JOIN alloc a USING (source)
    WHERE r.rk <= a.n_alloc
    ORDER BY r.source, r.rk
    """,
)
def stratified_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocated stratified sample (10% of the corpus): each
    source stratum gets budget ∝ N_h·sd_h, the variance-optimal
    allocation for estimating corpus means from the sample. The
    allocation arithmetic is exact to the end — the Neyman weight
    N_h·sd_h equals sqrt(N_h·Σx² − (Σx)²) so ONE per-stratum sqrt
    rounds to an integer score, and budgets are integer floor products
    of integer sums (never a float share that could flip a floor
    boundary cross-engine). Membership is the portable md5 rank within
    each stratum — content-addressed, reproducible, no RNG. Shape: two
    stratum-grain aggregates + one rank window; the sample join
    broadcasts the 1-row-per-stratum allocation."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    xd = F.col("n_chars").cast("decimal(19,0)")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_h"),
        (
            F.count(F.lit(1)).cast("decimal(19,0)") * F.sum(xd * xd)
            - F.sum(xd) * F.sum(xd)
        ).alias("v"),
    )
    sc = s.select(
        "source",
        "n_h",
        F.round(F.sqrt(F.col("v").cast("double"))).cast("long").alias("score"),
    )
    t = sc.agg(
        F.sum("score").alias("tot"), F.sum("n_h").alias("n_docs")
    )
    alloc = sc.crossJoin(F.broadcast(t)).select(
        "source",
        F.expr("((n_docs DIV 10) * score) DIV tot").alias("n_alloc"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w).cast("long").alias("rk")
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("rk") <= F.col("n_alloc"))
        .select("doc_id", "source", "rk", "n_alloc")
        .orderBy("source", "rk")
    )


@query(
    "events_m4_downsample",
    oracle="""
    WITH pts AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             ts, event_id, value,
             row_number() OVER (
               PARTITION BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
               ORDER BY ts, event_id
             ) AS rn_f,
             row_number() OVER (
               PARTITION BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
               ORDER BY ts DESC, event_id DESC
             ) AS rn_l
      FROM events
    )
    SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN rn_f = 1 THEN value END), 6) AS v_first,
           round(sum(CASE WHEN rn_l = 1 THEN value END), 6) AS v_last,
           round(min(value), 6) AS v_min,
           round(max(value), 6) AS v_max
    FROM pts GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visual downsampling (Jugel et al. 2014): per (series, time
    bucket) keep exactly first/last/min/max — the four points that make
    a line chart of the bucket pixel-identical to the raw series, the
    standard dashboard fan-in that turns a 100 TB scan into a
    bucket-grain frame. ONE map-side-combinable groupBy: first/last ride
    a (ts, event_id, value) struct min/max (total order — no window, no
    second pass; the oracle's twin windows select the same rows because
    (ts, event_id) is unique). Values round to 6dp on both engines."""
    ev = load_table(spark, "events", sf_dir)
    g = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("ts", "event_id", "value")).alias("_f"),
        F.max(F.struct("ts", "event_id", "value")).alias("_l"),
        F.min("value").alias("_mn"),
        F.max("value").alias("_mx"),
    )
    return g.select(
        "event_type",
        "bucket",
        "n",
        F.round(F.col("_f.value"), 6).alias("v_first"),
        F.round(F.col("_l.value"), 6).alias("v_last"),
        F.round("_mn", 6).alias("v_min"),
        F.round("_mx", 6).alias("v_max"),
    ).orderBy("event_type", "bucket")


