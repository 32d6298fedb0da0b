"""Gate definitions, round-11 registrations and late additions (the
r12/r13 rotation queues): smoothing/novelty/pruning LM gates,
nonparametric rank tests, cluster-quality evals, inference/
reliability audits, taxonomy IC similarity, retrieval eval (RBO,
hubness, margin alignment), spectra, and the Little's-law audit.

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
from pdf_brain_spark.registry import query
from pdf_brain_spark.sources.loaders import load_table  # noqa: F401
from pdf_brain_spark.gates.core import _DUCK_MINHASH_BANDED, _DUCK_MINHASH_SIG, _DUCK_QUANT_X, _DUCK_SHINGLES, _duck_kmeans_fit  # noqa: F401

# --------------------------------------------------------------------------
# Round-11 additions — the round-12 queue (registered after this round's
# GATE_WINDOW sealed; three-scale harness-attested at registration, each
# algorithmic gate with a randomized second opinion in
# tests/test_randomized_references.py). Corpus-probed first per the r10
# lesson: the documents vocabulary is 31 types with zero hapax, so the
# LM-smoothing and novelty gates key on the TRIGRAM/4-GRAM axes (9.4k
# hapax trigrams at sf0.001) where the count tail actually exists.
# --------------------------------------------------------------------------


@query(
    "systematic_mixture_resample",
    oracle="""
    WITH cap AS (
      SELECT source,
             CAST(sum(len(list_filter(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               t -> t <> ''))) AS BIGINT) AS capacity
      FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT source, capacity,
             CAST(sum(capacity) OVER (ORDER BY source ASC) AS BIGINT) AS c,
             CAST(sum(capacity) OVER () AS BIGINT) AS w
      FROM cap
    ),
    slt AS (
      SELECT source, capacity, w,
             (2 * 256 * c + w - 1) // (2 * w)
               - (2 * 256 * (c - capacity) + w - 1) // (2 * w) AS slots
      FROM cum
    ),
    chk AS (SELECT CAST(sum(slots) AS BIGINT) AS total_slots FROM slt)
    SELECT s.source, s.capacity, CAST(s.slots AS BIGINT) AS slots,
           CAST(s.capacity * 1000000 // s.w AS BIGINT) AS exact_share_ppm,
           CAST(s.slots * 1000000 // 256 AS BIGINT) AS realized_share_ppm,
           (c.total_slots = 256) AS sum_matches_n,
           (abs(s.slots * s.w - 256 * s.capacity) < s.w) AS within_one_ok
    FROM slt s, chk c
    ORDER BY s.source
    """,
)
def systematic_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC (low-variance) resampling of the source mixture: 256
    epoch slots allocated across sources proportional to token capacity
    by the classic systematic resampler — equally-spaced positions
    u_j = (2j+1)·W/(2n) walked through the source-ascending cumulative
    capacity — the epoch scheduler that beats multinomial draws (each
    source gets floor or ceil of its expectation, variance 0 beyond
    quantization; Kitagawa 1996, Douc & Cappé 2005). Closed form, exact
    integers: slots_i = f(C_i) − f(C_{i−1}) with
    f(C) = (2nC + W − 1) div (2W), which counts the odd multiples of
    W/(2n) below C — proven against the textbook position-walking loop
    on randomized capacities in tests/test_randomized_references.py.
    Two invariants ride as twin-pinned booleans: Σ slots = n EXACTLY
    (telescoping f(W) = n) and |slots_i − n·cap_i/W| < 1 (the
    within-one property that defines systematic resampling). The dual
    of token_budget_waterfill (allocate SLOTS by share, not CAP by
    fairness). Model-grain: one corpus pass for capacities, then the
    window runs on the bounded source enum."""
    from pdf_brain_spark.functions.text import tokenize
    from pyspark.sql import Window

    n_slots = 256
    docs = load_table(spark, "documents", sf_dir)
    cap = (
        docs.select("source", F.size(tokenize("text")).cast("long").alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("capacity"))
        .localCheckpoint(eager=True)  # ONE corpus pass; cumsum + W arms
    )
    order = [F.col("source").asc()]
    wcum = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cap.select(
        "source",
        "capacity",
        bounded_axis(
            F.sum("capacity").over(wcum).cast("long"),
            order,
            "systematic resample source axis",
            safe_alternative="pre-aggregate to the source enum grain "
            "before the cumulative walk",
        ).alias("c"),
    ).crossJoin(
        F.broadcast(cap.agg(F.sum("capacity").cast("long").alias("w")))
    )
    # w == 0 (all-zero capacities) leaves the positions undefined:
    # Spark's div would NULL while the DuckDB twin errors on /0 — the
    # same engine divergence token_budget_waterfill guards; raise BY
    # NAME, welded into the consumed expression (r11 review)
    _sr_guard = F.assert_true(
        F.col("w") > 0,
        F.lit(
            "systematic_mixture_resample: total source capacity is 0, "
            "so the resampling positions are undefined; nothing to "
            "allocate"
        ),
    )
    slt = cum.select(
        "source",
        "capacity",
        "w",
        F.when(
            _sr_guard.isNull(),
            F.expr(f"(2 * {n_slots} * c + w - 1) div (2 * w)")
            - F.expr(f"(2 * {n_slots} * (c - capacity) + w - 1) div (2 * w)"),
        )
        .cast("long")
        .alias("slots"),
    ).localCheckpoint(eager=True)  # consumed by the sum check AND output
    chk = slt.agg(F.sum("slots").cast("long").alias("_total"))
    return (
        slt.crossJoin(F.broadcast(chk))  # broadcast 1-row invariant check
        .select(
            "source",
            "capacity",
            "slots",
            F.expr("(capacity * 1000000) div w").alias("exact_share_ppm"),
            F.expr(f"(slots * 1000000) div {n_slots}").alias(
                "realized_share_ppm"
            ),
            (F.col("_total") == n_slots).alias("sum_matches_n"),
            (
                F.abs(F.col("slots") * F.col("w") - n_slots * F.col("capacity"))
                < F.col("w")
            ).alias("within_one_ok"),
        )
        .orderBy("source")
    )


@query(
    "good_turing_trigram",
    oracle="""
    WITH arrs AS (
      SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS a
      FROM documents
    ),
    g AS (
      SELECT array_to_string(a[i:i+2], ' ') AS ng
      FROM arrs, LATERAL (SELECT unnest(generate_series(1, len(a) - 2)) AS i) s
      WHERE len(a) >= 3
    ),
    c AS (SELECT ng, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1),
    nr AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM c GROUP BY 1),
    tot AS (
      SELECT CAST(sum(r * n_r) AS BIGINT) AS n_total,
             CAST(sum(n_r) AS BIGINT) AS n_types,
             CAST(max(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
      FROM nr
    ),
    grid AS (
      SELECT a.r, a.n_r, b.n_r AS n_r1
      FROM nr a JOIN nr b ON b.r = a.r + 1
      WHERE a.r <= 8
    )
    SELECT g.r, g.n_r, g.n_r1,
           CAST((g.r + 1) * g.n_r1 * 1000000 // g.n_r AS BIGINT)
             AS rstar_ppm,
           CAST(t.n1 * 1000000 // t.n_total AS BIGINT) AS p0_ppm,
           t.n_total, t.n_types,
           (t.n_total = (SELECT count(*) FROM g)) AS mass_identity_ok
    FROM grid g, tot t
    ORDER BY g.r
    """,
)
def good_turing_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD-TURING frequency smoothing evidence at TRIGRAM grain (Good
    1953; Gale & Sampson 1995 'Simple Good-Turing'): counts-of-counts
    N_r for r ≤ 8 with the Turing adjusted count
    r* = (r+1)·N_{r+1}/N_r in exact ppm, plus the unseen-probability
    mass p₀ = N₁/N — the smoothing table an LM pipeline derives before
    discounting, and the direct empirical complement of the
    kneser_ney_heldout gate's fixed-D discount (a healthy corpus shows
    r* < r at the hapax end). TRIGRAM grain because the corpus was
    probed first (r10 lesson): the unigram vocabulary is 31 types with
    ZERO hapax — unigram N₁..N₃ are constant-zero — while trigrams
    carry a real Zipf tail (9.4k hapax at sf0.001). Rows emit only
    where N_r > 0 AND N_{r+1} > 0 (identical inner-join guard both
    engines — no /0, no engine-divergent NULL). All exact integers:
    instance counts → type counts → counts-of-counts is two map-side-
    combinable aggregates, each strictly smaller than the last; the
    grid is ≤ 8 rows. mass_identity_ok cross-derives the instance
    total two ways (Σ r·N_r through the aggregation chain vs an
    independent instance count) so a broken chain fails by name.
    Randomized pure-python counts-of-counts mirror in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    docs = load_table(spark, "documents", sf_dir)
    inst = docs.select(
        F.explode(shingles(tokenize_sql("text"), 3)).alias("ng")
    ).localCheckpoint(eager=True)  # counted twice: chain + identity
    c = inst.groupBy("ng").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nr = c.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    ).localCheckpoint(eager=True)  # ≤ max-count rows; grid + totals
    tot = nr.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_total"),
        F.sum("n_r").cast("long").alias("n_types"),
        F.max(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("_n1"),
    ).crossJoin(
        F.broadcast(inst.agg(F.count(F.lit(1)).cast("long").alias("_n_inst")))
    )
    a = nr.select(F.col("r"), F.col("n_r"))
    b = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    grid = a.join(b, "r").filter(F.col("r") <= 8)
    return (
        grid.crossJoin(F.broadcast(tot))  # broadcast 1-row totals
        .select(
            "r",
            "n_r",
            "n_r1",
            F.expr("((r + 1) * n_r1 * 1000000) div n_r").alias("rstar_ppm"),
            F.expr("(_n1 * 1000000) div n_total").alias("p0_ppm"),
            "n_total",
            "n_types",
            (F.col("n_total") == F.col("_n_inst")).alias("mass_identity_ok"),
        )
        .orderBy("r")
    )


@query(
    "ngram_novelty_curve",
    oracle="""
    WITH arrs AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)),
             '\\s+'), t -> t <> '') AS a
      FROM documents
    ),
    dt AS (
      SELECT DISTINCT doc_id, array_to_string(a[i:i+3], ' ') AS ng
      FROM arrs, LATERAL (SELECT unnest(generate_series(1, len(a) - 3)) AS i) s
      WHERE len(a) >= 4
    ),
    first_seen AS (SELECT ng, min(doc_id) AS first_doc FROM dt GROUP BY 1),
    per_doc AS (
      SELECT d.doc_id,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM dt d JOIN first_seen f ON f.ng = d.ng
      GROUP BY 1
    ),
    mx AS (SELECT max(doc_id) AS mid FROM documents)
    SELECT least(p.doc_id * 10 // (m.mid + 1), 9) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_types) AS BIGINT) AS total_types,
           CAST(sum(p.n_novel) AS BIGINT) AS novel_types,
           CAST(sum(p.n_novel) * 1000000 // sum(p.n_types) AS BIGINT)
             AS novelty_ppm
    FROM per_doc p, mx m
    GROUP BY 1 ORDER BY 1
    """,
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-GRAM NOVELTY curve over ingestion order: for each doc (in
    doc_id order, the ingest sequence), the share of its distinct
    4-gram types that no earlier doc contains, rolled up per doc-id
    decile — the diminishing-returns curve behind 'how much of each new
    crawl increment is actually new text' (the marginal-value reading
    of Lee et al. 2022's dedup argument, and the incremental complement
    of ngram_dup_rate_curve's corpus-static repeat share). A flat curve
    near 1e6 ppm says increments keep adding content; a collapsing
    tail says later ingests mostly re-cover earlier ones. Exact
    integers end to end: novelty is a min-doc-id-per-type aggregate
    (type grain — the SAME axis ngram_dup_rate_curve shuffles, nothing
    new to scale) joined back to the (doc, type) pairs; the decile is
    map-only against a broadcast max-id row, never a global rank.
    Randomized pure-python first-seen mirror in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    docs = load_table(spark, "documents", sf_dir)
    dt = (
        docs.select(
            "doc_id", F.explode(shingles(tokenize_sql("text"), 4)).alias("ng")
        )
        .distinct()
        .localCheckpoint(eager=True)  # (doc, type) pairs; first-seen + join
    )
    first_seen = dt.groupBy("ng").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        dt.join(first_seen, "ng")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    # max over the RAW doc axis (the ingestion order), not per_doc: a
    # per_doc max would re-run the whole type-grain chain as the
    # broadcast arm; this is one scan-only aggregate
    mx = docs.agg(F.max("doc_id").alias("_mid"))
    return (
        per_doc.crossJoin(F.broadcast(mx))  # broadcast 1-row max id
        .groupBy(
            F.least(
                F.expr("(doc_id * 10) div (_mid + 1)"), F.lit(9)
            ).alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_types").cast("long").alias("total_types"),
            F.sum("n_novel").cast("long").alias("novel_types"),
            F.expr("(sum(n_novel) * 1000000) div sum(n_types)").alias(
                "novelty_ppm"
            ),
        )
        .orderBy("decile")
    )


@query(
    "soft_calibration_ece",
    oracle=f"""
    WITH {_DUCK_QUANT_X.strip()},
    {_duck_kmeans_fit(8, 2)},
    a3 AS (
      SELECT x.vec_id, c.cid, sum((x.v - c.c) * (x.v - c.c)) AS d2
      FROM x JOIN f_c2 c USING (d)
      WHERE x.vec_id < 100 GROUP BY 1, 2
    ),
    hard AS (
      SELECT vec_id, cid AS hard_cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM a3) WHERE rn = 1
    ),
    neg AS (
      SELECT vec_id, cid, -sqrt(CAST(d2 AS DOUBLE)) / 500.0 AS neg FROM a3
    ),
    e AS (
      SELECT vec_id, cid,
             exp(neg - max(neg) OVER (PARTITION BY vec_id)) AS ev
      FROM neg
    ),
    p AS (
      SELECT vec_id, cid,
             CAST(round(round(ev / sum(ev) OVER (PARTITION BY vec_id), 6)
                        * 1000000) AS BIGINT) AS p_micro
      FROM e
    ),
    j AS (
      SELECT p.vec_id, p.cid, p.p_micro,
             CASE WHEN p.cid = h.hard_cid THEN 1 ELSE 0 END AS hit
      FROM p JOIN hard h USING (vec_id)
    ),
    bands AS (
      SELECT least(p_micro // 5000, 199) AS band,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(p_micro) // count(*) AS BIGINT) AS mean_conf_ppm,
             CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS hard_rate_ppm
      FROM j GROUP BY 1
    ),
    ece AS (
      SELECT CAST(sum(n_pairs * abs(mean_conf_ppm - hard_rate_ppm))
                  // sum(n_pairs) AS BIGINT) AS ece_ppm
      FROM bands
    )
    SELECT b.band, b.n_pairs, b.mean_conf_ppm, b.hard_rate_ppm,
           CAST(abs(b.mean_conf_ppm - b.hard_rate_ppm) AS BIGINT) AS gap_ppm,
           e.ece_ppm
    FROM bands b, ece e
    ORDER BY b.band
    """,
)
def soft_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of the soft-clustering probabilities
    against the hard assignment (Naeini et al. 2015; Guo et al. 2017
    applied to the cluster-membership 'classifier'): each (vector,
    cluster) softmax probability is a confidence prediction of the
    event 'this cluster wins the hard argmin assignment' — binned on
    the FIXED 10-band ladder (100k-ppm steps, never data-dependent
    quantiles), each band compares mean confidence to the realized hit
    rate, and ECE is the pair-weighted mean absolute gap. The
    model-debugging number behind 'can downstream consumers treat soft
    memberships as probabilities, or only as rankings'. Built entirely
    from attested plays: the exact-integer fit and bit-identical
    softmax chain of soft_clustering (whose in-gate margin flags also
    guard THIS gate's rounding regime — identical praw values), hard
    argmin on exact integer d2 with id tie-break, then integer ppm
    floor-divisions only. Bounded: 800 pairs → ≤ 200 band rows (in
    practice ~15, the occupied slice of the 5000-ppm ladder); softmax
    is map-side over broadcast centroids, the bands one tiny aggregate.
    Randomized pure-python ECE mirror in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.operators.clustering import (
        fit_centroid_matrix,
        quantize_milli,
        quantized_d2,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cmat = fit_centroid_matrix(spark, emb, k=8, dim=64, n_iter=2)
    q = quantize_milli(emb.filter(F.col("vec_id") < 100))
    d2s = F.array(*[
        F.struct(
            quantized_d2("q", cmat[c]).alias("d2"), F.lit(c).alias("cid")
        )
        for c in range(8)
    ])
    negs = F.transform(
        d2s, lambda s: -F.sqrt(s.getField("d2").cast("double")) / 500.0
    )
    j = (
        q.select(
            "vec_id",
            F.array_min(d2s).getField("cid").alias("_hard"),
            negs.alias("_negs"),
        )
        .withColumn("_m", F.array_max("_negs"))
        .withColumn("_es", F.transform("_negs", lambda x: F.exp(x - F.col("_m"))))
        .withColumn("_s", F.aggregate("_es", F.lit(0.0), lambda a, v: a + v))
        .select(
            "vec_id",
            "_hard",
            F.posexplode(
                F.transform(
                    "_es",
                    lambda e: F.round(F.round(e / F.col("_s"), 6) * 1000000.0)
                    .cast("long"),
                )
            ).alias("cid", "p_micro"),
        )
        .select(
            "p_micro",
            F.when(F.col("cid") == F.col("_hard"), 1).otherwise(0).alias("hit"),
        )
    )
    bands = (
        j.groupBy(
            F.least(F.expr("p_micro div 5000"), F.lit(199)).alias("band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(p_micro) div count(1)").alias("mean_conf_ppm"),
            F.expr("(sum(hit) * 1000000) div count(1)").alias("hard_rate_ppm"),
        )
        .localCheckpoint(eager=True)  # ≤ 10 rows; ECE + output
    )
    ece = bands.agg(
        F.expr(
            "sum(n_pairs * abs(mean_conf_ppm - hard_rate_ppm))"
            " div sum(n_pairs)"
        ).alias("ece_ppm")
    )
    return (
        bands.crossJoin(F.broadcast(ece))  # broadcast 1-row ECE
        .select(
            "band",
            "n_pairs",
            "mean_conf_ppm",
            "hard_rate_ppm",
            F.abs(
                F.col("mean_conf_ppm") - F.col("hard_rate_ppm")
            ).alias("gap_ppm"),
            "ece_ppm",
        )
        .orderBy("band")
    )


@query(
    "margin_knn_alignment",
    oracle="""
    WITH q AS (
      SELECT e.vec_id, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
      WHERE e.vec_id < 256
    ),
    dots AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(sum(a.v * b.v) AS BIGINT) AS dot
      FROM q a JOIN q b ON a.d = b.d AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    knn AS (
      SELECT ia, CAST(sum(dot) AS BIGINT) AS knn4 FROM (
        SELECT ia, dot,
               row_number() OVER (PARTITION BY ia
                 ORDER BY dot DESC, ib ASC) AS rn
        FROM dots) WHERE rn <= 4 GROUP BY 1
    ),
    scored AS (
      SELECT d.ia AS vec_id_a, d.ib AS vec_id_b, d.dot AS dot_milli2,
             CAST(d.dot * 8000000 // (ka.knn4 + kb.knn4) AS BIGINT)
               AS margin_ppm
      FROM dots d
      JOIN knn ka ON ka.ia = d.ia
      JOIN knn kb ON kb.ia = d.ib
      WHERE d.ia < d.ib AND ka.knn4 + kb.knn4 > 0
    )
    SELECT vec_id_a, vec_id_b, dot_milli2, margin_ppm
    FROM scored
    ORDER BY margin_ppm DESC, vec_id_a ASC, vec_id_b ASC
    LIMIT 20
    """,
)
def margin_knn_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARGIN-based alignment mining (Artetxe & Schwenk 2019, the
    bitext-mining scorer; 'ratio' variant): a candidate pair's raw
    similarity divided by the mean similarity of each side's k=4
    nearest neighbors — the score that separates genuinely-aligned
    pairs from hubness artifacts (a vector that is close to EVERYTHING
    gets a high denominator and stops winning raw-cosine rankings).
    Integer-exact variant: similarities are inner products of the
    milli-quantized embeddings (exact BIGINTs — the corpus embeddings
    are unit-scale, so dot ordering matches cosine ordering), margin =
    2·4·1e6·dot div (Σtop4_a + Σtop4_b) is one floor division, ties
    broken by ids. Output: top-20 pairs over the pinned vec_id < 256
    sample. At 100 TB the pair set comes from ANN candidates
    (hard_negatives / reciprocal_nearest_neighbors supply exactly
    that stage); the scorer itself is candidate-grain — this gate pins
    its arithmetic on the bounded sample where the exhaustive k-NN is
    checkable. Randomized numpy brute-force mirror in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.clustering import quantize_milli

    emb = load_table(spark, "embeddings", sf_dir)
    q = quantize_milli(emb.filter(F.col("vec_id") < 256)).localCheckpoint(
        eager=True
    )  # ≤ 256 rows; both join sides + knn
    a = q.select(F.col("vec_id").alias("ia"), F.col("q").alias("_qa"))
    b = q.select(F.col("vec_id").alias("ib"), F.col("q").alias("_qb"))
    dots = (
        a.crossJoin(F.broadcast(b))  # bounded 256×256 sample, by design
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.aggregate(
                F.zip_with("_qa", "_qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
        .localCheckpoint(eager=True)  # consumed by knn AND the scorer
    )
    w = Window.partitionBy("ia").orderBy(
        F.col("dot").desc(), F.col("ib").asc()
    )
    knn = (
        dots.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 4)
        .groupBy("ia")
        .agg(F.sum("dot").cast("long").alias("knn4"))
    )
    ka = knn.select(F.col("ia"), F.col("knn4").alias("_ka"))
    kb = knn.select(F.col("ia").alias("ib"), F.col("knn4").alias("_kb"))
    return (
        dots.filter(F.col("ia") < F.col("ib"))
        .join(F.broadcast(ka), "ia")
        .join(F.broadcast(kb), "ib")
        .filter(F.col("_ka") + F.col("_kb") > 0)
        .select(
            F.col("ia").alias("vec_id_a"),
            F.col("ib").alias("vec_id_b"),
            F.col("dot").alias("dot_milli2"),
            F.expr("(dot * 8000000) div (_ka + _kb)").alias("margin_ppm"),
        )
        .orderBy(
            F.col("margin_ppm").desc(),
            F.col("vec_id_a").asc(),
            F.col("vec_id_b").asc(),
        )
        .limit(20)
    )


@query(
    "streaming_incremental_novelty",
    oracle="""
    WITH arrs AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)),
             '\\s+'), t -> t <> '') AS a
      FROM documents
    ),
    dt AS (
      SELECT DISTINCT doc_id, array_to_string(a[i:i+3], ' ') AS ng
      FROM arrs, LATERAL (SELECT unnest(generate_series(1, len(a) - 3)) AS i) s
      WHERE len(a) >= 4
    ),
    f AS (SELECT ng, min(doc_id) AS fd FROM dt GROUP BY 1),
    per AS (
      SELECT CAST(CASE WHEN fd < 100 THEN 0 ELSE 1 END AS BIGINT)
               AS first_batch,
             CAST(count(*) AS BIGINT) AS n_new_types
      FROM f GROUP BY 1
    ),
    tot AS (SELECT sum(n_new_types) AS t FROM per)
    SELECT p.first_batch, p.n_new_types,
           CAST(p.n_new_types * 1000000 // t.t AS BIGINT) AS share_ppm
    FROM per p, tot t
    ORDER BY p.first_batch
    """,
)
def streaming_incremental_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental NOVELTY maintenance — first-seen tracking
    as the mergeable-partials store's min-struct monoid
    (streaming/events.py::NOVELTY): each batch writes its
    4-gram types with (batch, min doc) and the serve merges
    min(struct(fb, fd)) per type, so 'how much of THIS crawl increment
    is new text' is answered per increment without re-scanning history
    — the streaming dual of ngram_novelty_curve (which re-reads the
    whole corpus each time). Two REAL AvailableNow runs on one
    checkpoint: docs < 100 stage first (batch 0), the rest after
    (batch 1) — the same exactly-once restart device as
    directory_discovery_scan, which also pins the batch assignment
    deterministically (contiguous ids make the merged first-seen equal
    to the plain min-doc oracle). Min-struct merging is associative,
    commutative, AND idempotent, so replay and compaction serve the
    identical table (pytest walks write→compact→re-serve equality)."""
    import shutil
    import tempfile

    from pdf_brain_spark.streaming.events import NOVELTY, read_novelty

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="sgraft_novelty_")
    stage, store, ckpt = (f"{root}/{d}" for d in ("stage", "novelty", "ckpt"))
    try:
        docs.filter(F.col("doc_id") < 100).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
        stream = spark.readStream.schema(docs.schema).parquet(stage)
        NOVELTY.stream(stream, store, ckpt).awaitTermination()
        docs.filter(F.col("doc_id") >= 100).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
        stream = spark.readStream.schema(docs.schema).parquet(stage)
        NOVELTY.stream(stream, store, ckpt).awaitTermination()
        return read_novelty(spark, store).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "lm_pruning_curve",
    oracle="""
    WITH arrs AS (
      SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS a
      FROM documents
    ),
    g AS (
      SELECT array_to_string(a[i:i+1], ' ') AS ng
      FROM arrs, LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i) s
      WHERE len(a) >= 2
    ),
    c AS (SELECT ng, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
      FROM c
    ),
    thr AS (SELECT unnest([1, 2, 3, 5, 8]) AS threshold)
    SELECT CAST(t.threshold AS BIGINT) AS threshold,
           CAST(sum(CASE WHEN c.c > t.threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS surviving_types,
           CAST(sum(CASE WHEN c.c > t.threshold THEN 1 ELSE 0 END)
                * 1000000 // any_value(o.v) AS BIGINT) AS types_ppm,
           CAST(sum(CASE WHEN c.c > t.threshold THEN c.c ELSE 0 END)
                * 1000000 // any_value(o.n) AS BIGINT) AS retained_mass_ppm
    FROM c, thr t, tot o
    GROUP BY t.threshold ORDER BY t.threshold
    """,
)
def lm_pruning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-cutoff PRUNING curve for the bigram LM (the KenLM/SRILM
    `--prune` sizing decision, Heafield 2011 / Stolcke 1998 count
    cutoffs): for thresholds t ∈ {1,2,3,5,8}, the bigram types
    surviving c > t and the token mass they retain — the model-size vs
    coverage trade-off read directly off the counts-of-counts axis
    (good_turing_trigram's table answers WHAT the discount should be;
    this answers HOW MUCH model survives each cutoff). Exact integers:
    one type-grain count, then the 5-threshold grid is a broadcast
    cross join over the BOUNDED type table aggregated per threshold —
    at 100 TB the grid costs 5× a vocab-grain scan, never a corpus
    rescan. Randomized pure-python mirror in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import shingles, tokenize, tokenize_sql

    docs = load_table(spark, "documents", sf_dir)
    c = (
        docs.select(F.explode(shingles(tokenize_sql("text"), 2)).alias("ng"))
        .groupBy("ng")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # vocab grain; grid + totals
    )
    tot = c.agg(
        F.sum("c").cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_v"),
    )
    thr = spark.createDataFrame([(1,), (2,), (3,), (5,), (8,)], "threshold long")
    return (
        c.crossJoin(F.broadcast(thr))  # bounded: vocab × 5 thresholds
        .crossJoin(F.broadcast(tot))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("c") > F.col("threshold"), 1).otherwise(0))
            .cast("long")
            .alias("surviving_types"),
            F.expr(
                "(sum(CASE WHEN c > threshold THEN 1 ELSE 0 END) * 1000000)"
                " div any_value(_v)"
            ).alias("types_ppm"),
            F.expr(
                "(sum(CASE WHEN c > threshold THEN c ELSE 0 END) * 1000000)"
                " div any_value(_n)"
            ).alias("retained_mass_ppm"),
        )
        .orderBy("threshold")
    )


@query(
    "spearman_hourly_rho",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    xh AS (
      SELECT event_type, x, count(*) AS cnt,
             sum(count(*)) OVER (PARTITION BY event_type ORDER BY x)
               - count(*) AS cb
      FROM hourly GROUP BY 1, 2
    ),
    yh AS (
      SELECT event_type, y, count(*) AS cnt,
             sum(count(*)) OVER (PARTITION BY event_type ORDER BY y)
               - count(*) AS cb
      FROM hourly GROUP BY 1, 2
    ),
    r AS (
      SELECT h.event_type,
             CAST(2 * xh.cb + xh.cnt + 1 AS BIGINT) AS rx,
             CAST(2 * yh.cb + yh.cnt + 1 AS BIGINT) AS ry
      FROM hourly h
      JOIN xh ON xh.event_type = h.event_type AND xh.x = h.x
      JOIN yh ON yh.event_type = h.event_type AND yh.y = h.y
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(rx) AS HUGEINT) AS sx,
             CAST(sum(ry) AS HUGEINT) AS sy,
             CAST(sum(rx * rx) AS HUGEINT) AS sxx,
             CAST(sum(ry * ry) AS HUGEINT) AS syy,
             CAST(sum(rx * ry) AS HUGEINT) AS sxy
      FROM r GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0.0
             AS rho
    FROM m
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ORDER BY event_type
    """,
)
def spearman_hourly_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation between hourly volume and hourly
    revenue per event type (Spearman 1904; tie handling per Kendall's
    mid-rank convention) — the first rank-CORRELATION statistic in the
    stats family (ks/mann-whitney/chi² test distributions; this
    measures monotone association): 'do busy hours monotonically carry
    more revenue, per type' without assuming linearity, robust to the
    heavy tails that break Pearson on money columns. Exact-integer
    discipline end to end: mid-ranks come from the VALUE-HISTOGRAM
    cumulative device (events_anomaly_mad's play — windows run at
    value grain per type, never a row-grain global sort), DOUBLED to
    2·cum_before + cnt + 1 so ties never create half-ranks (Pearson on
    ranks is scale-invariant, so doubling cancels); all moments are
    exact integer sums cross-multiplied as n·Σxy − Σx·Σy in
    decimal-38/HUGEINT; two correctly-rounded sqrts, one product, one
    division, one 6dp round. Zero-variance series filter on the exact
    integer variances (identical both engines — no /0, no NaN).
    Randomized second opinion: mid-rank Pearson vs the no-ties
    1 − 6Σd²/(n(n²−1)) closed form AND a tie-aware brute-force mirror,
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum("_c").cast("long").alias("y"),
        )
        .localCheckpoint(eager=True)  # consumed by two histograms + join
    )

    def _midranks(col: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col)
        return (
            hourly.groupBy("event_type", col)
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .select(
                "event_type",
                col,
                (
                    2 * (F.sum("cnt").over(w) - F.col("cnt"))
                    + F.col("cnt")
                    + 1
                ).alias(f"r{col}"),
            )
        )
    r = (
        hourly.join(_midranks("x"), ["event_type", "x"])
        .join(_midranks("y"), ["event_type", "y"])
    )
    m = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("decimal(38,0)").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.filter((vx > 0) & (vy > 0))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_hours"),
            (
                F.round(
                    num.cast("double")
                    / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                    6,
                )
                + F.lit(0.0)
            ).alias("rho"),
        )
        .orderBy("event_type")
    )


@query(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d
      GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj,
             CAST(sum(t) AS BIGINT) AS n
      FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
      GROUP BY 1
    ),
    m AS (
      SELECT s.event_type, s.s_stat, t.n,
             n * (n - 1) * (2 * n + 5) - t.tie_adj AS var18
      FROM s JOIN ties t USING (event_type)
    )
    SELECT event_type, n AS n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
           round(((s_stat - CASE WHEN s_stat > 0 THEN 1
                                 WHEN s_stat < 0 THEN -1 ELSE 0 END)
                  * sqrt(18.0)) / sqrt(CAST(var18 AS DOUBLE)), 6) + 0.0
             AS z_stat,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend,
           (abs(((s_stat - CASE WHEN s_stat > 0 THEN 1
                                WHEN s_stat < 0 THEN -1 ELSE 0 END)
                 * sqrt(18.0)) / sqrt(CAST(var18 AS DOUBLE))) > 1.96)
             AS significant
    FROM m WHERE var18 > 0
    ORDER BY event_type
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL monotone-trend test on the daily revenue series per
    event type (Mann 1945; Kendall 1975; the Hipel & McLeod hydrology
    standard) — the SIGNIFICANCE companion of theil_sen_trend (which
    fits the slope; this tests whether a monotone trend exists at all,
    distribution-free and outlier-proof): S = Σ_{i<j} sign(x_j − x_i)
    over day pairs, the tie-corrected variance
    18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5) kept as an exact
    integer, and the continuity-corrected Z = (S∓1)·√18/√var18 — two
    correctly-rounded sqrts, one product, one division, one 6dp round
    (bit-identical both engines). The pair join runs at DAILY-SERIES
    grain: its size is C(days, 2) per type — bounded by the time
    range, never by corpus volume, so at 100 TB it costs the same 435
    pairs per type this test pays (the same posture as
    events_autocorrelation's lag grid). All-tied series filter on the
    exact integer var18. Randomized brute-force python mirror with
    independent inversion-count derivation in
    tests/test_randomized_references.py."""
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("_c").cast("long").alias("x"))
        .localCheckpoint(eager=True)  # day grain; pair join + tie counts
    )
    a = daily.select("event_type", F.col("d").alias("_da"), F.col("x").alias("_xa"))
    b = daily.select("event_type", F.col("d").alias("_db"), F.col("x").alias("_xb"))
    s = (
        a.join(b, "event_type")
        .filter(F.col("_db") > F.col("_da"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("_xb") > F.col("_xa"), 1)
                .when(F.col("_xb") < F.col("_xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_adj"),
            F.sum("t").cast("long").alias("n"),
        )
    )
    m = s.join(ties, "event_type").withColumn(
        "var18",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_adj")
        ).cast("long"),
    )
    cc = F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1).otherwise(0)
    z = (
        (F.col("s_stat") - cc) * F.sqrt(F.lit(18.0))
    ) / F.sqrt(F.col("var18").cast("double"))
    return (
        m.filter(F.col("var18") > 0)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s_stat",
            "var18",
            (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
            F.when(F.col("s_stat") > 0, "increasing")
            .when(F.col("s_stat") < 0, "decreasing")
            .otherwise("none")
            .alias("trend"),
            (F.abs(z) > 1.96).alias("significant"),
        )
        .orderBy("event_type")
    )


@query(
    "sanitize_tiny_filter_report",
    oracle="""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
    cases AS (
      SELECT doc_id, 'null_injected' AS kind,
             concat(substr(text, 1, 10), chr(0), substr(text, 11, 180))
               AS input FROM base
      UNION ALL SELECT doc_id, 'spaced_null',
             concat(substr(text, 1, 8), ' ', chr(0), ' ',
                    substr(text, 9, 40)) FROM base
      UNION ALL SELECT doc_id, 'tiny_19', substr(text, 1, 19) FROM base
      UNION ALL SELECT doc_id, 'tiny_20', substr(text, 1, 20) FROM base
      UNION ALL SELECT doc_id, 'tiny_21', substr(text, 1, 21) FROM base
      UNION ALL SELECT doc_id, 'plain_300', substr(text, 1, 300) FROM base
      UNION ALL SELECT doc_id, 'ws_only', repeat(' ', 25) FROM base
      UNION ALL SELECT doc_id, 'nulls_only', repeat(chr(0), 30) FROM base
    ),
    ev AS (
      SELECT doc_id, kind,
             CAST(length(input) AS BIGINT) AS raw_len,
             (strpos(input, chr(0)) > 0) AS had_null,
             trim(regexp_replace(replace(input, chr(0), ''),
                                 '\\s+', ' ', 'g')) AS cleaned
      FROM cases
    )
    SELECT doc_id, kind, raw_len, had_null,
           CAST(CASE WHEN length(cleaned) > 20 THEN 1 ELSE 0 END AS BIGINT)
             AS n_chunks,
           CAST(CASE WHEN length(cleaned) > 20 THEN length(cleaned)
                     ELSE 0 END AS BIGINT) AS kept_chars
    FROM ev ORDER BY doc_id, kind
    """,
)
def sanitize_tiny_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STANDALONE oracled gate for P6 (text sanitize — null-byte strip,
    PDFExtractor.ts:70-73) and P7 (tiny-chunk filter — the strict
    > 20-char rule, PDFExtractor.ts:144), the last two SURVEY §2 rows
    that were carried only by unit tests inside chunk_pipeline (VERDICT
    r10 'what's missing' #3). The corpus itself contains no null bytes
    (probed), so the gate CONSTRUCTS adversarial inputs from the corpus
    with expressions both engines share verbatim — injected chr(0) mid-
    word and mid-whitespace (the order-of-operations case: sanitize
    must run BEFORE whitespace collapse or 'a \\x00 b' collapses
    wrong), 19/20/21-char boundary slices around the strict > 20 rule,
    whitespace-only, null-bytes-only, and a plain 300-char control —
    then runs the REAL python chunker UDF (make_chunk_udf → chunk_text
    → sanitize_text) on them and hash-compares n_chunks/kept_chars
    against the SQL closed form replace→collapse→trim→(>20). Inputs
    are ASCII letters + spaces + NUL by construction, so python \\s,
    Java \\s, and RE2 \\s agree (the one regex-class regime where all
    three engines match; documented constraint). Bounded: 25 docs × 8
    kinds = 200 rows; the UDF is the production Arrow-batched chunk
    path itself."""
    from pdf_brain_spark.operators.ingest import make_chunk_udf

    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < 25)
        .select("doc_id", "text")
    )
    kinds = [
        ("null_injected",
         "concat(substr(text, 1, 10), chr(0), substr(text, 11, 180))"),
        ("spaced_null",
         "concat(substr(text, 1, 8), ' ', chr(0), ' ', substr(text, 9, 40))"),
        ("tiny_19", "substr(text, 1, 19)"),
        ("tiny_20", "substr(text, 1, 20)"),
        ("tiny_21", "substr(text, 1, 21)"),
        ("plain_300", "substr(text, 1, 300)"),
        ("ws_only", "repeat(' ', 25)"),
        ("nulls_only", "repeat(chr(0), 30)"),
    ]
    cases = None
    for kind, expr in kinds:
        part = docs.select(
            "doc_id", F.lit(kind).alias("kind"), F.expr(expr).alias("input")
        )
        cases = part if cases is None else cases.unionByName(part)
    chunk_udf = make_chunk_udf(512, 50, False)
    return (
        cases.select(
            "doc_id",
            "kind",
            F.length("input").cast("long").alias("raw_len"),
            F.expr("instr(input, chr(0)) > 0").alias("had_null"),
            chunk_udf(F.col("input")).alias("_chunks"),
        )
        .select(
            "doc_id",
            "kind",
            "raw_len",
            "had_null",
            F.size("_chunks").cast("long").alias("n_chunks"),
            F.aggregate(
                F.transform("_chunks", lambda c: F.length(c).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("kept_chars"),
        )
        .orderBy("doc_id", "kind")
    )


# --------------------------------------------------------------------------
# Round-11 late additions — the round-13 queue (the 10-gate r12 queue
# already fills its pre-specified rotation exactly; these wait one extra
# rotation, the r10 'late additions' pattern, three-scale attested like
# everything else).
# --------------------------------------------------------------------------


from pdf_brain_spark.functions.text import (  # noqa: E402 — rater family
    RATER_MWL_MILLI_THRESHOLD,
    RATER_TTR_PPM_THRESHOLD,
)

# Shared rater-signal CTE for the three rater-family oracles (hoisted by
# the session-2 review together with functions/text.py::rater_raw_cols —
# the twins now desynchronize only if THIS fragment or the thresholds
# change, which fails all three gates by name at once).
_DUCK_RATER_M = """
    rater_m AS (
      SELECT doc_id,
             (1000 * len(array_to_string(a, '')))
               // greatest(len(a), 1) AS mwl,
             (1000000 * len(list_distinct(a)))
               // greatest(len(a), 1) AS ttr
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS a
        FROM documents
      )
    )
"""


@query(
    "rater_agreement_kappa",
    oracle=f"""
    WITH {_DUCK_RATER_M.strip()},
    m AS (
      SELECT mwl >= {RATER_MWL_MILLI_THRESHOLD} AS ra,
             ttr >= {RATER_TTR_PPM_THRESHOLD} AS rb
      FROM rater_m
    ),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM m
    ),
    k AS (
      SELECT n, n11, n10, n01, n00,
             (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe2
      FROM c
    )
    SELECT n AS n_docs, n11, n10, n01, n00,
           CAST((n11 + n00) * 1000000 // n AS BIGINT) AS agree_ppm,
           round(CAST(n * (n11 + n00) - pe2 AS DOUBLE)
                 / CAST(n * n - pe2 AS DOUBLE), 6) + 0.0 AS kappa
    FROM k WHERE n * n - pe2 > 0
    """,
)
def rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between two independent document-quality raters
    (Cohen 1960) — the inter-annotator-agreement statistic every
    labeling/filtering pipeline reports before trusting a rater:
    chance-corrected agreement κ = (p_o − p_e)/(1 − p_e) between rater
    A = 'long mean word length' (mean_word_len ≥ 4500 milli) and rater
    B = 'lexically diverse' (type-token ratio ≥ 450000 ppm), two
    genuinely different map-only signals with balanced marginals on
    this corpus (thresholds probed at all three scales — the r10
    degenerate-gate lesson; the stopword/punct signals are
    constant-zero here and were rejected). Exact-integer discipline:
    the 2×2 contingency and the cross-multiplied form
    κ = (N·agree − pe2)/(N² − pe2), pe2 = Σ row·col, stay exact
    BIGINTs; ONE double division + one 6dp round at the end — κ is a
    signed proper fraction, so a plain integer quotient would collapse
    to 0 and a micro-scaled one would need signed-division analysis
    (both pinned engines' integer divisions truncate toward zero
    identically — verified r11, an earlier note claiming DuckDB floors
    was wrong — but the double division of two exact integers is
    bit-identical and needs no such analysis).
    Degenerate marginals (pe2 = N²) filter identically on both
    engines. Map-only + one 1-row aggregate: scan-speed at 100 TB.
    Randomized python mirror vs the probability-form formula in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import rater_raw_cols

    docs = load_table(spark, "documents", sf_dir)
    # integer div on positive operands: truncation == floor == DuckDB //
    m = docs.select(*rater_raw_cols("text")).select(
        (F.expr("_sl div _nt") >= RATER_MWL_MILLI_THRESHOLD).alias("ra"),
        (F.expr("_td div _nt") >= RATER_TTR_PPM_THRESHOLD).alias("rb"),
    )
    c = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when(F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when(~F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when(~F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    pe2 = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    return (
        c.withColumn("_pe2", pe2.cast("long"))
        .filter(F.col("n") * F.col("n") - F.col("_pe2") > 0)
        .select(
            F.col("n").alias("n_docs"),
            "n11",
            "n10",
            "n01",
            "n00",
            F.expr("((n11 + n00) * 1000000) div n").alias("agree_ppm"),
            (
                F.round(
                    (
                        F.col("n") * (F.col("n11") + F.col("n00"))
                        - F.col("_pe2")
                    ).cast("double")
                    / (F.col("n") * F.col("n") - F.col("_pe2")).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("kappa"),
        )
    )


@query(
    "jackknife_source_influence",
    oracle="""
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)),
                  '\\s+'), t -> t <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS t_src
      FROM d GROUP BY 1
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS g,
             CAST(sum(n_docs) AS BIGINT) AS n,
             CAST(sum(t_src) AS BIGINT) AS t
      FROM per
    ),
    loo AS (
      SELECT p.source, p.n_docs, g.g,
             CAST(g.t * 1000000 // g.n AS BIGINT) AS mean_micro,
             CAST((g.t - p.t_src) * 1000000 // (g.n - p.n_docs) AS BIGINT)
               AS loo_mean_micro
      FROM per p, g
      WHERE g.n > p.n_docs
    ),
    se AS (
      SELECT CAST(count(*) AS BIGINT) AS gg,
             CAST(sum(loo_mean_micro) AS HUGEINT) AS s1,
             CAST(sum(loo_mean_micro * loo_mean_micro) AS HUGEINT) AS s2
      FROM loo
    )
    SELECT l.source, l.n_docs, l.mean_micro, l.loo_mean_micro,
           CAST(l.loo_mean_micro - l.mean_micro AS BIGINT) AS influence_micro,
           round(sqrt(CAST((s.gg - 1) * (s.gg * s.s2 - s.s1 * s.s1)
                           AS DOUBLE)) / CAST(s.gg AS DOUBLE), 6)
             + 0.0 AS jackknife_se_micro
    FROM loo l, se s
    ORDER BY l.source
    """,
)
def jackknife_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-GROUP JACKKNIFE on the corpus mean tokens-per-doc
    (Quenouille 1956; Tukey 1958; Efron & Stein 1981 grouped form) —
    the deterministic, RNG-free cousin of bootstrap_mean_ci, and the
    per-SOURCE influence diagnostic a mixture curator reads before
    reweighting: leave each source out, recompute the mean, and report
    (a) each source's influence θ₍ⱼ₎ − θ̂ (a positive value says the
    source DRAGS the corpus mean down — removing it raises the mean)
    and (b) the grouped jackknife standard error
    SE = √((g−1)/g · Σ(θ₍ⱼ₎ − θ̄₍·₎)²) of the corpus statistic under
    source-level resampling. Exact-integer discipline: one corpus pass
    to source totals, leave-one-out means quantized ONCE to micro
    (floor division — both engines), the SE's inner sum cross-
    multiplied as (g−1)·(g·Σθ² − (Σθ)²) in exact HUGEINT/decimal-38,
    ONE correctly-rounded sqrt and one division by the exact g·g at
    the end. Model-grain: everything after the first aggregate runs on
    the 20-source enum. Randomized python mirror vs the textbook
    pseudo-value formulation in tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    per = (
        docs.select("source", F.size(tokenize("text")).cast("long").alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("t_src"),
        )
        .localCheckpoint(eager=True)  # source grain; totals + LOO arms
    )
    g = per.agg(
        F.count(F.lit(1)).cast("long").alias("_g"),
        F.sum("n_docs").cast("long").alias("_n"),
        F.sum("t_src").cast("long").alias("_t"),
    )
    loo = (
        per.crossJoin(F.broadcast(g))  # broadcast 1-row totals
        .filter(F.col("_n") > F.col("n_docs"))
        .select(
            "source",
            "n_docs",
            F.expr("(_t * 1000000) div _n").alias("mean_micro"),
            F.expr(
                "((_t - t_src) * 1000000) div (_n - n_docs)"
            ).alias("loo_mean_micro"),
        )
        .localCheckpoint(eager=True)  # 20 rows; SE + output
    )
    se = loo.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_gg"),
        F.sum("loo_mean_micro").cast("decimal(38,0)").alias("_s1"),
        F.sum(F.col("loo_mean_micro") * F.col("loo_mean_micro"))
        .cast("decimal(38,0)")
        .alias("_s2"),
    )
    inner = (F.col("_gg") - 1) * (
        F.col("_gg") * F.col("_s2") - F.col("_s1") * F.col("_s1")
    )
    return (
        loo.crossJoin(F.broadcast(se))  # broadcast 1-row SE moments
        .select(
            "source",
            "n_docs",
            "mean_micro",
            "loo_mean_micro",
            (F.col("loo_mean_micro") - F.col("mean_micro")).alias(
                "influence_micro"
            ),
            (
                F.round(
                    F.sqrt(inner.cast("double"))
                    / F.col("_gg").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("jackknife_se_micro"),
        )
        .orderBy("source")
    )


@query(
    "silhouette_squared_report",
    oracle=f"""
    WITH {_DUCK_QUANT_X.strip()},
    {_duck_kmeans_fit(8, 2)},
    a3 AS (
      SELECT x.vec_id, c.cid, sum((x.v - c.c) * (x.v - c.c)) AS d2
      FROM x JOIN f_c2 c USING (d)
      WHERE x.vec_id < 100 GROUP BY 1, 2
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM a3) WHERE rn = 1
    ),
    pd AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(sum((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS d2
      FROM x a JOIN x b ON a.d = b.d AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 100 AND b.vec_id < 100
      GROUP BY 1, 2
    ),
    g AS (
      SELECT p.ia, sa.cid AS ca, sb.cid AS cb,
             CAST(sum(p.d2) // count(*) AS BIGINT) AS mean2
      FROM pd p
      JOIN asg sa ON sa.vec_id = p.ia
      JOIN asg sb ON sb.vec_id = p.ib
      GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT ia, ca,
             max(CASE WHEN cb = ca THEN mean2 END) AS a2,
             min(CASE WHEN cb <> ca THEN mean2 END) AS b2
      FROM g GROUP BY 1, 2
    ),
    s AS (
      SELECT ia, ca,
             CASE WHEN a2 IS NULL OR b2 IS NULL
                       OR greatest(a2, b2) = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(round(1000000.0 * (b2 - a2)
                                  / greatest(a2, b2)) AS BIGINT)
             END AS s_micro
      FROM ab
    ),
    per AS (
      SELECT ca AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(s_micro) // count(*) AS BIGINT) AS mean_s_micro,
             CAST(min(s_micro) AS BIGINT) AS min_s_micro,
             CAST(max(s_micro) AS BIGINT) AS max_s_micro
      FROM s GROUP BY 1
    ),
    ov AS (
      SELECT CAST(sum(s_micro) // count(*) AS BIGINT) AS overall_s_micro
      FROM s
    )
    SELECT p.cluster_id, p.n_members, p.mean_s_micro, p.min_s_micro,
           p.max_s_micro, o.overall_s_micro
    FROM per p, ov o
    ORDER BY p.cluster_id
    """,
)
def silhouette_squared_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SILHOUETTE report for the exact-integer clustering (Rousseeuw
    1987, computed on SQUARED Euclidean distance — the documented
    variant choice: squared distances stay EXACT integers end to end,
    where true-distance silhouettes would sum thousands of sqrt
    doubles in engine-dependent order; the score keeps Rousseeuw's
    [−1, 1] semantics and ordering since x → x² is monotone on
    distances) — the cluster-quality eval the clustering lifecycle was
    missing: BIC picks k, the summaries describe clusters, this says
    whether points actually sit closer to their own cluster than to
    the nearest other one. Per point: a = floor-mean of intra-cluster
    pair d², b = min over other clusters of floor-mean d²,
    s = (b − a)/max(a, b) — ONE double division, quantized once to
    micro, all aggregation back in exact integers (a float mean of
    rounded s values would be order-dependent). Singletons score 0
    (Rousseeuw's convention). Bounded: the pinned 100-vector sample ×
    8 clusters, the same grain every clustering gate attests on; the
    pair matrix is 9,900 integer rows. Randomized python mirror vs a
    per-point loop reference in tests/test_randomized_references.py."""
    from pdf_brain_spark.operators.clustering import (
        fit_centroid_matrix,
        quantize_milli,
        quantized_d2,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cmat = fit_centroid_matrix(spark, emb, k=8, dim=64, n_iter=2)
    q = quantize_milli(emb.filter(F.col("vec_id") < 100)).localCheckpoint(
        eager=True
    )  # 100 rows; assignment + both pair sides
    best = F.array_min(
        F.array(*[
            F.struct(
                quantized_d2("q", cmat[c]).alias("d2"), F.lit(c).alias("cid")
            )
            for c in range(8)
        ])
    )
    asg = q.select("vec_id", best.getField("cid").alias("cid"))
    a = q.select(F.col("vec_id").alias("ia"), F.col("q").alias("_qa"))
    b = q.select(F.col("vec_id").alias("ib"), F.col("q").alias("_qb"))
    pd_ = (
        a.crossJoin(F.broadcast(b))  # bounded 100×100 sample, by design
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.aggregate(
                F.zip_with("_qa", "_qb", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("d2"),
        )
    )
    sa = asg.select(F.col("vec_id").alias("ia"), F.col("cid").alias("ca"))
    sb = asg.select(F.col("vec_id").alias("ib"), F.col("cid").alias("cb"))
    g = (
        pd_.join(F.broadcast(sa), "ia")
        .join(F.broadcast(sb), "ib")
        .groupBy("ia", "ca", "cb")
        .agg(F.expr("sum(d2) div count(1)").alias("mean2"))
    )
    ab = g.groupBy("ia", "ca").agg(
        F.max(F.when(F.col("cb") == F.col("ca"), F.col("mean2"))).alias("a2"),
        F.min(F.when(F.col("cb") != F.col("ca"), F.col("mean2"))).alias("b2"),
    )
    s = ab.select(
        "ia",
        "ca",
        F.when(
            F.col("a2").isNull()
            | F.col("b2").isNull()
            | (F.greatest("a2", "b2") == 0),
            F.lit(0).cast("long"),
        )
        .otherwise(
            F.round(
                F.lit(1000000.0)
                * (F.col("b2") - F.col("a2")).cast("double")
                / F.greatest("a2", "b2").cast("double")
            ).cast("long")
        )
        .alias("s_micro"),
    ).localCheckpoint(eager=True)  # 100 rows; per-cluster + overall
    per = s.groupBy(F.col("ca").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.expr("sum(s_micro) div count(1)").alias("mean_s_micro"),
        F.min("s_micro").cast("long").alias("min_s_micro"),
        F.max("s_micro").cast("long").alias("max_s_micro"),
    )
    ov = s.agg(F.expr("sum(s_micro) div count(1)").alias("overall_s_micro"))
    return (
        per.crossJoin(F.broadcast(ov))  # broadcast 1-row overall score
        .select(
            "cluster_id", "n_members", "mean_s_micro", "min_s_micro",
            "max_s_micro", "overall_s_micro",
        )
        .orderBy("cluster_id")
    )


@query(
    "ann_hubness_report",
    oracle="""
    WITH q AS (
      SELECT e.vec_id, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
      WHERE e.vec_id < 256
    ),
    dots AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(sum(a.v * b.v) AS BIGINT) AS dot
      FROM q a JOIN q b ON a.d = b.d AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    nn AS (
      SELECT ia, ib FROM (
        SELECT ia, ib,
               row_number() OVER (PARTITION BY ia
                 ORDER BY dot DESC, ib ASC) AS rn
        FROM dots) WHERE rn <= 8
    ),
    occ AS (
      SELECT m.vec_id,
             CAST(count(n.ia) AS BIGINT) AS n_occ
      FROM (SELECT DISTINCT vec_id FROM q) m
      LEFT JOIN nn n ON n.ib = m.vec_id
      GROUP BY 1
    ),
    mom AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(n_occ) AS HUGEINT) AS s1,
             CAST(sum(n_occ * n_occ) AS HUGEINT) AS s2,
             CAST(sum(n_occ * n_occ * n_occ) AS HUGEINT) AS s3
      FROM occ
    ),
    sk AS (
      SELECT CAST(n AS BIGINT) AS n_vectors,
             round(CAST(n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1
                        AS DOUBLE)
                   / (CAST(n * s2 - s1 * s1 AS DOUBLE)
                      * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))), 6) + 0.0
               AS occ_skewness
      FROM mom WHERE n * s2 - s1 * s1 > 0
    )
    SELECT o.n_occ AS k_occurrence,
           CAST(count(*) AS BIGINT) AS n_vectors_at,
           s.n_vectors, s.occ_skewness
    FROM occ o, sk s
    GROUP BY 1, 3, 4
    ORDER BY 1
    """,
)
def ann_hubness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUBNESS diagnostic for the embedding space (Radovanović, Nanopoulos
    & Ivanović 2010, JMLR — 'Hubs in Space'): the k-occurrence
    distribution N_k(x) = how many other vectors count x among their
    k=8 nearest neighbors, plus its skewness — THE standard measure of
    the high-dimensional pathology where a few 'hub' vectors appear in
    everyone's neighbor lists (inflating raw-cosine retrieval and
    exactly what margin_knn_alignment's denominator corrects; this gate
    is the measurement that justifies that scorer). A near-symmetric
    N_k (skewness ≈ 0) says the space is hub-free; skewness ≫ 1 says
    rank-correcting scorers are mandatory. Exact integers: neighbor
    lists from integer milli-dot rankings (id tie-break), k-occurrence
    counts via one LEFT-JOIN aggregate (vectors never chosen count 0 —
    the anti-hubs, the distribution's other tail), and the skewness
    g1 = m3/m2^1.5 in the cross-multiplied integer form
    (n²S3 − 3nS2S1 + 2S1³) / ((nS2 − S1²)·√(nS2 − S1²)) — HUGEINT/
    decimal-38 numerators, ONE sqrt + one product + one division + one
    6dp round. Bounded: the pinned 256-vector sample (the same
    exhaustive-kNN regime margin_knn_alignment attests on; at 100 TB
    N_k comes from the ANN candidate lists at serving time).
    Randomized python mirror vs a numpy moment reference in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.clustering import quantize_milli

    emb = load_table(spark, "embeddings", sf_dir)
    q = quantize_milli(emb.filter(F.col("vec_id") < 256)).localCheckpoint(
        eager=True
    )  # ≤ 256 rows; pair sides + the zero-occurrence left frame
    a = q.select(F.col("vec_id").alias("ia"), F.col("q").alias("_qa"))
    b = q.select(F.col("vec_id").alias("ib"), F.col("q").alias("_qb"))
    dots = (
        a.crossJoin(F.broadcast(b))  # bounded 256×256 sample, by design
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.aggregate(
                F.zip_with("_qa", "_qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("ia").orderBy(F.col("dot").desc(), F.col("ib").asc())
    nn = (
        dots.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 8)
        .select("ia", "ib")
    )
    occ = (
        q.select("vec_id")
        .join(nn.select(F.col("ib").alias("vec_id"), F.lit(1).alias("_one")),
              "vec_id", "left")
        .groupBy("vec_id")
        .agg(F.sum(F.coalesce(F.col("_one"), F.lit(0))).cast("long").alias("n_occ"))
        .localCheckpoint(eager=True)  # ≤ 256 rows; histogram + moments
    )
    mom = occ.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("n_occ").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("n_occ") * F.col("n_occ")).cast("decimal(38,0)").alias("s2"),
        F.sum(F.col("n_occ") * F.col("n_occ") * F.col("n_occ"))
        .cast("decimal(38,0)")
        .alias("s3"),
    )
    m2n = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    m3n = (
        F.col("n") * F.col("n") * F.col("s3")
        - 3 * F.col("n") * F.col("s2") * F.col("s1")
        + 2 * F.col("s1") * F.col("s1") * F.col("s1")
    )
    sk = mom.filter(m2n > 0).select(
        F.col("n").cast("long").alias("n_vectors"),
        (
            F.round(
                m3n.cast("double")
                / (m2n.cast("double") * F.sqrt(m2n.cast("double"))),
                6,
            )
            + F.lit(0.0)
        ).alias("occ_skewness"),
    )
    return (
        occ.groupBy(F.col("n_occ").alias("k_occurrence"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors_at"))
        .crossJoin(F.broadcast(sk))  # broadcast 1-row skewness
        .select("k_occurrence", "n_vectors_at", "n_vectors", "occ_skewness")
        .orderBy("k_occurrence")
    )


@query(
    "cluster_validity_indices",
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
    st AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(d2) AS HUGEINT) AS w_i,
             CAST(sum(d2) // count(*) AS BIGINT) AS s_i
      FROM m3 GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_i) AS HUGEINT) AS n,
             CAST(sum(w_i) AS HUGEINT) AS w,
             CAST(count(*) AS BIGINT) AS k_eff
      FROM st
    ),
    cd AS (
      SELECT a.cid AS ci, b.cid AS cj,
             CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS m2
      FROM f_c2 a JOIN f_c2 b ON a.d = b.d AND a.cid <> b.cid
      GROUP BY 1, 2
    ),
    r AS (
      SELECT cd.ci,
             CAST(round((1000000.0 * (si.s_i + sj.s_i)) / cd.m2) AS BIGINT)
               AS r_micro
      FROM cd
      JOIN st si ON si.cid = cd.ci
      JOIN st sj ON sj.cid = cd.cj
      WHERE cd.m2 > 0
    ),
    dbc AS (
      SELECT ci AS cid, CAST(max(r_micro) AS BIGINT) AS db_component_micro
      FROM r GROUP BY 1
    ),
    dbi AS (
      SELECT CAST(sum(db_component_micro) // count(*) AS BIGINT)
               AS db_index_micro
      FROM dbc
    ),
    sd AS (
      SELECT c.d, CAST(sum(CAST(st.n_i AS HUGEINT) * c.c) AS HUGEINT) AS s
      FROM f_c2 c JOIN st USING (cid) GROUP BY 1
    ),
    bn AS (
      SELECT CAST(sum(CAST(st.n_i AS HUGEINT)
                      * (CAST(t.n AS HUGEINT) * c.c - sd.s)
                      * (CAST(t.n AS HUGEINT) * c.c - sd.s)) AS HUGEINT)
               AS b_num
      FROM f_c2 c JOIN st USING (cid) JOIN sd USING (d), tot t
    ),
    ch AS (
      SELECT round(CAST(bn.b_num * (t.n - t.k_eff) AS DOUBLE)
                   / CAST(t.n * t.n * t.w * (t.k_eff - 1) AS DOUBLE), 6)
               + 0.0 AS ch_ratio
      FROM bn, tot t WHERE t.k_eff > 1 AND t.w > 0
    )
    SELECT st.cid AS cluster_id, st.n_i AS n_members, st.s_i AS scatter_mean2,
           dbc.db_component_micro, dbi.db_index_micro, ch.ch_ratio,
           CAST(t.n AS BIGINT) AS n_vectors, t.k_eff
    FROM st JOIN dbc ON dbc.cid = st.cid, dbi, ch, tot t
    ORDER BY cluster_id
    """,
)
def cluster_validity_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAVIES-BOULDIN + CALINSKI-HARABASZ validity indices for the
    exact-integer clustering (Davies & Bouldin 1979, IEEE TPAMI;
    Calinski & Harabasz 1974) — the two CENTROID-GRAIN cluster-quality
    evals complementing silhouette_squared_report's pairwise one: DB
    penalizes cluster pairs whose combined scatter exceeds their
    separation (lower = better), CH is the between/within variance
    ratio F-statistic (higher = better). Both computed on SQUARED
    Euclidean throughout (the silhouette gate's documented variant
    choice: d² stays an exact integer; both indices keep their ordering
    since the transform is monotone on distances). Exact-integer
    discipline: scatter s_i = floor-mean of member d² to the final
    centroid (the kmeans_clusters assignment — integer argmin, lowest-cid
    ties); centroid separations m²_ij from the integer centroid matrix;
    R_ij = (s_i+s_j)/m²_ij quantized ONCE to micro (rounding is
    monotone, so max-then-round == round-then-max — the second opinion
    proves it); DB = integer floor-mean of per-cluster maxes. CH stays
    a single exact rational until the last step: with S = Σ n_j·c_j the
    between-scatter is B·n² = Σ n_i·‖n·c_i − S‖² (no float mean ever
    materialized), and CH = B_num·(n−k) / (n²·W·(k−1)) is ONE double
    division of two exact HUGEINT/decimal-38 products + one 6dp round.
    Zero-separation pairs (identical centroids) are excluded by the
    integer m² > 0 filter; empty clusters drop out of st identically on
    both engines (deliberate: indices are defined over non-empty
    clusters, k_eff counts them). 100 TB shape: assignment is the
    map-only broadcast-literal codegen pass (corpus never shuffled),
    the only wide op is one map-side-combinable groupBy(cid), and
    everything after runs at model grain (8 rows, 512 centroid cells).
    Randomized second opinion: Fraction-exact per-definition mirror vs
    the integer/micro pipeline in tests/test_randomized_references.py."""
    from pdf_brain_spark.operators.clustering import (
        assign_stats_exact_int,
        fit_centroid_matrix,
        quantize_milli,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    k = 8
    cmat = fit_centroid_matrix(spark, emb, k=k, dim=64, n_iter=2)
    q = quantize_milli(emb)
    # r17 (guide §2.3/§4.1, profiled): the assignment pass previously ran
    # the 8-way zip_with/aggregate HOF ladder per row and shipped every
    # row's (cid, d2) to the groupBy — ~1.8 s of the gate warm, ~2× one
    # Arrow BLAS pass over the same rows. assign_stats_exact_int assigns
    # AND partially aggregates in-kernel (≤ k rows per task leave
    # Python); the re-aggregate below is an exact integer identity of
    # the old per-row groupBy (n_i = Σn, w_i = Σw, s_i = Σw div Σn).
    st = (
        assign_stats_exact_int(q, cmat)
        .groupBy("cid")
        .agg(
            F.sum("n").cast("long").alias("n_i"),
            F.sum("w").cast("decimal(38,0)").alias("w_i"),
            F.expr("sum(w) div sum(n)").alias("s_i"),
        )
        .localCheckpoint(eager=True)  # model grain (≤ k rows); 4 consumers
    )
    tot = st.agg(
        F.sum("n_i").cast("decimal(38,0)").alias("n"),
        F.sum("w_i").cast("decimal(38,0)").alias("w"),
        F.count(F.lit(1)).cast("long").alias("k_eff"),
    )
    # centroid pair separations: model-grain constants from the collected
    # k x dim fit (bounded by model size, never data)
    pair_rows = [
        (ci, cj, sum((a - b) * (a - b) for a, b in zip(cmat[ci], cmat[cj])))
        for ci in range(k)
        for cj in range(k)
        if ci != cj
    ]
    cd = spark.createDataFrame(pair_rows, "ci INT, cj INT, m2 LONG").filter(
        F.col("m2") > 0
    )
    si = st.select(F.col("cid").alias("ci"), F.col("s_i").alias("_si"))
    sj = st.select(F.col("cid").alias("cj"), F.col("s_i").alias("_sj"))
    r = (
        cd.join(F.broadcast(si), "ci")
        .join(F.broadcast(sj), "cj")
        .select(
            "ci",
            F.round(
                (
                    F.lit(1000000.0)
                    * (F.col("_si") + F.col("_sj")).cast("double")
                )
                / F.col("m2").cast("double")
            )
            .cast("long")
            .alias("r_micro"),
        )
    )
    dbc = r.groupBy(F.col("ci").alias("cid")).agg(
        F.max("r_micro").cast("long").alias("db_component_micro")
    )
    dbi = dbc.agg(
        F.expr("sum(db_component_micro) div count(1)").alias("db_index_micro")
    )
    cents = spark.createDataFrame(
        [(c, d, cmat[c][d]) for c in range(k) for d in range(64)],
        "cid INT, d INT, c LONG",
    )
    sd = (
        cents.join(F.broadcast(st.select("cid", "n_i")), "cid")
        .groupBy("d")
        .agg(
            F.sum(F.col("n_i").cast("decimal(38,0)") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("s")
        )
    )
    bn = (
        cents.join(F.broadcast(st.select("cid", "n_i")), "cid")
        .join(F.broadcast(sd), "d")
        .crossJoin(F.broadcast(tot))  # broadcast 1-row totals
        .select(
            (
                F.col("n_i").cast("decimal(38,0)")
                * (F.col("n") * F.col("c") - F.col("s"))
                * (F.col("n") * F.col("c") - F.col("s"))
            ).alias("_t")
        )
        .agg(F.sum("_t").cast("decimal(38,0)").alias("b_num"))
    )
    ch = (
        bn.crossJoin(F.broadcast(tot))  # broadcast 1-row totals
        .filter((F.col("k_eff") > 1) & (F.col("w") > 0))
        .select(
            (
                F.round(
                    (F.col("b_num") * (F.col("n") - F.col("k_eff")))
                    .cast("double")
                    / (
                        F.col("n")
                        * F.col("n")
                        * F.col("w")
                        * (F.col("k_eff") - 1)
                    ).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("ch_ratio")
        )
    )
    return (
        st.select(F.col("cid").alias("cluster_id"), "n_i", "s_i")
        .join(F.broadcast(dbc.withColumnRenamed("cid", "cluster_id")),
              "cluster_id")
        .crossJoin(F.broadcast(dbi))  # broadcast 1-row DB index
        .crossJoin(F.broadcast(ch))  # broadcast 1-row CH ratio
        .crossJoin(F.broadcast(tot.select(
            F.col("n").cast("long").alias("n_vectors"), "k_eff")))
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_i").alias("n_members"),
            F.col("s_i").alias("scatter_mean2"),
            "db_component_micro",
            "db_index_micro",
            "ch_ratio",
            "n_vectors",
            "k_eff",
        )
        .orderBy("cluster_id")
    )


@query(
    "kruskal_wallis_langs",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)),
                  '\\s+'), t -> t <> '')) AS BIGINT) AS v
      FROM documents
    ),
    h AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(count(*)) OVER (ORDER BY v) - count(*) AS BIGINT) AS cb
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT d.lang, CAST(2 * h.cb + h.cnt + 1 AS BIGINT) AS rr
      FROM d JOIN h USING (v)
    ),
    g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(rr) AS HUGEINT) AS rsum
      FROM r GROUP BY 1
    ),
    tie AS (
      SELECT CAST(sum(cnt) AS HUGEINT) AS n,
             CAST(sum(cnt * cnt * cnt - cnt) AS HUGEINT) AS t
      FROM h
    ),
    ga AS (
      SELECT list({'lang': lang, 'n': CAST(n_g AS HUGEINT)}) AS arr FROM g
    ),
    po AS (
      SELECT g.lang, g.n_g, g.rsum,
             list_reduce(list_append(list_transform(
               list_filter(ga.arr, x -> x.lang <> g.lang), x -> x.n),
               CAST(1 AS HUGEINT)),
               (a, b) -> a * b) AS p_other
      FROM g, ga
    ),
    u AS (
      SELECT CAST(sum(rsum * rsum * p_other) AS HUGEINT) AS sterms,
             CAST(max(p_other * CAST(n_g AS HUGEINT)) AS HUGEINT) AS pi
      FROM po
    ),
    st AS (
      SELECT t.n,
             u.sterms - t.n * (t.n + 1) * (t.n + 1) * u.pi AS unum,
             u.pi * (t.n * (t.n * t.n - 1) - t.t) AS den
      FROM u, tie t
    ),
    fin AS (
      SELECT CAST(n AS BIGINT) AS n_total,
             round(CAST(3 * (n - 1) * unum AS DOUBLE)
                   / CAST(den AS DOUBLE), 6) + 0.0 AS h_stat
      FROM st WHERE den > 0
    )
    SELECT g.lang, g.n_g AS n_docs, CAST(g.rsum AS BIGINT)
             AS rank_sum_doubled,
           f.n_total, f.h_stat, (f.h_stat > 9.487729) AS significant
    FROM g, fin f ORDER BY g.lang
    """,
)
def kruskal_wallis_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H test of document token counts across the five
    languages (Kruskal & Wallis 1952, JASA) — the k-SAMPLE extension of
    mann_whitney_u (that gate compares two groups; this is the
    rank-based one-way ANOVA every corpus-balance audit needs: 'do the
    languages draw from the same length distribution at all'). Exact
    rationals until the last step, via three devices this repo already
    attests: DOUBLED mid-ranks from the value-histogram cumulative
    device (2·cum_before + cnt + 1 — no half-ranks, the /4 cancels in
    the algebra below); the pooled tie term T = Σ(t³−t) from the same
    histogram; and the per-group 1/n_g divisions cleared by an exact
    integer PRODUCT fold over the group-size list (Spark `aggregate`,
    DuckDB `list_reduce` — both exact, both order-free since products
    commute). Algebra: with doubled rank sums R'_g, the tie-corrected
    statistic reduces to H = 3(N−1)·U / (Π·(N(N²−1) − T)) where
    U = Σ_g R'_g²·(Π/n_g) − N(N+1)²·Π and Π = Πn_g — numerator and
    denominator stay exact HUGEINT/decimal-38 (≈1e32 at sf0.1, checked),
    ONE double division + one 6dp round. Significance at the
    χ²(df=4, α=.05) = 9.487729 literal on the identical rounded double.
    All-tied corpora filter on the exact integer den. Grain: the
    histogram window runs at VALUE grain (distinct token counts — a few
    hundred rows regardless of corpus size), groups at language grain
    (5 rows); one map-side-combinable aggregate touches the corpus.
    Randomized second opinion vs the classic 12/(N(N+1))·ΣR²/n − 3(N+1)
    float form in tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "lang", F.size(tokenize("text")).cast("long").alias("v")
    )
    # value-grain histogram ranked via the STITCHED two-level scan
    # (operators/stitched.py, r12 — the mann_whitney_u device): the
    # intra-bucket windows are distributed and only the domain/4096
    # bucket-carry frame is single-partition, guarded by name. The
    # DuckDB oracle keeps the global-window form, re-proving the scan
    # every round.
    h = (
        stitched_prefix_sums(
            d.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt")),
            "v",
            ["cnt"],
            what="Kruskal-Wallis distinct-token-count axis",
        )
        .select(
            "v",
            "cnt",
            (F.col("cnt_cum") - F.col("cnt")).cast("long").alias("cb"),
        )
        .localCheckpoint(eager=True)  # value grain; rank map + tie term
    )
    r = d.join(
        F.broadcast(h.select(
            "v", (2 * F.col("cb") + F.col("cnt") + 1).alias("rr"))),
        "v",
    )
    g = (
        r.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("rr").cast("decimal(38,0)").alias("rsum"),
        )
        .localCheckpoint(eager=True)  # language grain (5 rows); 3 consumers
    )
    tie = h.agg(
        F.sum("cnt").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("decimal(38,0)")
        .alias("t"),
    )
    ga = g.agg(
        F.collect_list(
            F.struct(
                F.col("lang"), F.col("n_g").cast("decimal(38,0)").alias("n")
            )
        ).alias("arr")
    )
    po = (
        g.crossJoin(F.broadcast(ga))  # broadcast 1-row group-size list
        .withColumn(
            "p_other",
            F.expr(
                "aggregate(filter(arr, x -> x.lang <> lang), "
                "CAST(1 AS DECIMAL(38,0)), "
                "(a, x) -> CAST(a * x.n AS DECIMAL(38,0)))"
            ),
        )
    )
    u = po.agg(
        F.sum(F.col("rsum") * F.col("rsum") * F.col("p_other"))
        .cast("decimal(38,0)")
        .alias("sterms"),
        F.max(F.col("p_other") * F.col("n_g").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("pi"),
    )
    st = u.crossJoin(F.broadcast(tie)).select(
        "n",
        (
            F.col("sterms")
            - F.col("n") * (F.col("n") + 1) * (F.col("n") + 1) * F.col("pi")
        ).alias("unum"),
        (
            F.col("pi")
            * (F.col("n") * (F.col("n") * F.col("n") - 1) - F.col("t"))
        ).alias("den"),
    )
    fin = st.filter(F.col("den") > 0).select(
        F.col("n").cast("long").alias("n_total"),
        (
            F.round(
                (3 * (F.col("n") - 1) * F.col("unum")).cast("double")
                / F.col("den").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("h_stat"),
    )
    return (
        g.select(
            "lang",
            F.col("n_g").alias("n_docs"),
            F.col("rsum").cast("long").alias("rank_sum_doubled"),
        )
        .crossJoin(F.broadcast(fin))  # broadcast 1-row statistic
        .select(
            "lang", "n_docs", "rank_sum_doubled", "n_total", "h_stat",
            (F.col("h_stat") > 9.487729).alias("significant"),
        )
        .orderBy("lang")
    )


@query(
    "dedup_edit_distance_verify",
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
    txt AS (
      SELECT doc_id, substr(lower(trim(text)), 1, 1000) AS t
      FROM documents
    ),
    ascii_txt AS (
      SELECT doc_id, t FROM txt WHERE strlen(t) = length(t)
    ),
    v AS (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(da.t, db.t) AS BIGINT) AS lev_distance,
             CAST(greatest(length(da.t), length(db.t)) AS BIGINT) AS max_len
      FROM cands c
      JOIN ascii_txt da ON da.doc_id = c.doc_a
      JOIN ascii_txt db ON db.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, lev_distance,
           CAST(1000 * (max_len - lev_distance) // max_len AS BIGINT)
             AS sim_milli,
           (1000 * (max_len - lev_distance) // max_len >= 500) AS is_dup
    FROM v WHERE max_len > 0
    ORDER BY doc_a, doc_b
    """,
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-LEVEL edit-distance verification of the LSH candidate
    pairs (Levenshtein 1966) — the third verifier in the two-stage dedup
    family: dedup_minhash_verified re-scores candidates by exact
    token-shingle Jaccard, dedup_embedding_cosine by embedding angle;
    this one by the exact unit-cost edit distance on the normalized
    text, the measure that catches single-character paraphrase/OCR
    variants shingle sets dilute (a 1-char edit flips up to 3 shingles
    but costs exactly 1 here). Integer cross-engine discipline with TWO
    explicit domain contracts (session-2 review findings, both fixed in
    the gate): (1) the ASCII GUARD — DuckDB's levenshtein counts BYTES
    while Spark's counts CODEPOINTS (probed: '中文字'→'中字' is 3 vs 1),
    so the verify domain is restricted to pure single-byte text via the
    octet_length == length filter, identical on both engines; multibyte
    pairs fall to the shingle-Jaccard and embedding-cosine verifiers,
    which are codepoint-clean (the divergence itself is pinned by a
    pytest so a future 'simplification' that drops the guard fails by
    name); (2) the PREFIX CAP — the DP runs on the first 1000 chars
    (substr on both engines), making the per-pair cost a real ≤1e6-cell
    contract instead of an unbounded quadratic in document length
    (prefix verification is the standard near-dup practice; a prefix
    edit distance lower-bounds dissimilarity). Similarity quantizes as
    1000·(max_len − lev) div max_len on positive integers; the is_dup
    decision compares integers to the probed 500-milli threshold
    (non-degenerate at all three scales). 100 TB shape: pair grain is
    bounded by the audited LSH banding contract (O(Σ bucket²),
    SHINGLE-capped), per-pair cost by the cap — the verify stage is
    candidates × constant. Randomized second opinion: Spark/DuckDB
    levenshtein vs a python Wagner-Fischer DP, ASCII domain, in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, "documents", sf_dir)
    cands = minhash_lsh_pairs(docs)
    txt = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, 1000).alias("_t"),
    ).filter(F.octet_length("_t") == F.length("_t"))
    ta = txt.select(F.col("doc_id").alias("doc_a"), F.col("_t").alias("_ta"))
    tb = txt.select(F.col("doc_id").alias("doc_b"), F.col("_t").alias("_tb"))
    # r16 (profiled): the planner broadcasts the tiny pair table and
    # streams the single-task document scan, so the whole
    # ≤1e6-DP-cell-per-pair levenshtein stage executed as ONE task
    # (1.0 s single-core at sf0.1). Attach the prefixes first (cheap
    # broadcast joins), then spread the bounded pair-grain rows ONCE,
    # deterministically by the key pair (never round-robin —
    # SPARK-38388), so the DP runs cluster-wide. The exchange moves
    # pairs × 2 KB of prefix — proportional to the candidate set, never
    # the corpus.
    v = (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .repartition(spark.sparkContext.defaultParallelism, "doc_a", "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("_ta", "_tb").cast("long").alias("lev_distance"),
            F.greatest(F.length("_ta"), F.length("_tb"))
            .cast("long")
            .alias("max_len"),
        )
    )
    sim = F.expr("(1000 * (max_len - lev_distance)) div max_len")
    scored = v.filter(F.col("max_len") > 0).select(
        "doc_a",
        "doc_b",
        "lev_distance",
        sim.alias("sim_milli"),
        (sim >= 500).alias("is_dup"),
    )
    # r16 (profiled): the terminal orderBy's RangePartitioning SAMPLING
    # pass re-executed the final stage end-to-end — the levenshtein DP
    # ran TWICE (2 × 1.0 s at sf0.1; shuffle outputs are reused across
    # jobs, but everything after the last exchange here is broadcast
    # joins + the DP, so the sampling job re-ran all of it). Materialize
    # the bounded scored pairs once; the sort then orders a tiny table.
    return scored.localCheckpoint(eager=True).orderBy("doc_a", "doc_b")


@query(
    "community_modularity_report",
    oracle="""
    WITH q AS (
      SELECT e.vec_id, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
      WHERE e.vec_id < 256
    ),
    dots AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(sum(a.v * b.v) AS BIGINT) AS dot
      FROM q a JOIN q b ON a.d = b.d AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    nn AS (
      SELECT ia, ib FROM (
        SELECT ia, ib,
               row_number() OVER (PARTITION BY ia
                 ORDER BY dot DESC, ib ASC) AS rn
        FROM dots) WHERE rn <= 8
    ),
    edges AS (
      SELECT x.ia AS a, x.ib AS b
      FROM nn x JOIN nn y ON x.ia = y.ib AND x.ib = y.ia
      WHERE x.ia < x.ib
    ),
    lab AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label
      FROM embeddings WHERE vec_id < 256
    ),
    deg AS (
      SELECT l.vec_id, l.label,
             CAST(count(e.a) AS BIGINT) AS degree
      FROM lab l
      LEFT JOIN (SELECT a FROM edges UNION ALL SELECT b FROM edges) e
        ON e.a = l.vec_id
      GROUP BY 1, 2
    ),
    intra AS (
      SELECT la.label, CAST(count(*) AS BIGINT) AS e_c
      FROM edges
      JOIN lab la ON la.vec_id = edges.a
      JOIN lab lb ON lb.vec_id = edges.b
      WHERE la.label = lb.label
      GROUP BY 1
    ),
    per AS (
      SELECT d.label, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.degree) AS BIGINT) AS degree_sum,
             CAST(coalesce(any_value(i.e_c), 0) AS BIGINT) AS intra_edges
      FROM deg d LEFT JOIN intra i ON i.label = d.label
      GROUP BY 1
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    tot AS (
      SELECT CAST(sum(4 * m.m * p.intra_edges
                      - p.degree_sum * p.degree_sum) AS BIGINT) AS q_num,
             m.m
      FROM per p, m GROUP BY m.m
    )
    SELECT p.label, p.n_nodes, p.degree_sum, p.intra_edges,
           CAST(4 * t.m * p.intra_edges - p.degree_sum * p.degree_sum
                AS BIGINT) AS q_contrib_num,
           t.m AS n_edges,
           CAST(round((1000000.0 * t.q_num) / (4.0 * t.m * t.m)) AS BIGINT)
             AS modularity_micro
    FROM per p, tot t
    WHERE t.m > 0
    ORDER BY p.label
    """,
)
def community_modularity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWMAN MODULARITY of the gold labels on the mutual-kNN graph
    (Newman & Girvan 2004, Phys. Rev. E) — the graph-quality companion
    of knn_label_eval: that gate asks 'does a point's neighborhood vote
    its label', this one asks whether the labels form actual GRAPH
    communities of the reciprocal-top-8 topology, Q = Σ_c [e_c/m −
    (d_c/2m)²] (Q ≈ 0: neighborhoods ignore labels; Q → 1: labels are
    near-perfect communities — the go/no-go for label-propagation or
    graph-partition steps over the embedding graph). Exact-integer
    discipline: the graph is the MUTUAL top-8 by integer milli-dot with
    id tie-break (ann_hubness_report's ranking device, made symmetric
    by the reversed-key self-join like reciprocal_nearest_neighbors);
    per-community terms stay in the cleared form 4m²·q_c = 4m·e_c −
    d_c² (emitted per row as q_contrib_num, so the hash pins every
    community's contribution, not just the total); degree-0 nodes enter
    via the LEFT JOIN with degree 0 (they dilute the null model —
    dropping them silently inflates Q); ONE double division + round to
    micro at the end. Bounded: the pinned 256-vector sample (the same
    exhaustive-kNN regime the hubness/margin gates attest on; at scale
    the edge list comes from the ANN candidate pass). Randomized second
    opinion: the cleared integer form vs a per-definition Fraction
    mirror in tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.clustering import quantize_milli

    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 256)
    q = quantize_milli(emb).localCheckpoint(eager=True)  # ≤ 256 rows
    a = q.select(F.col("vec_id").alias("ia"), F.col("q").alias("_qa"))
    b = q.select(F.col("vec_id").alias("ib"), F.col("q").alias("_qb"))
    dots = (
        a.crossJoin(F.broadcast(b))  # bounded 256×256 sample, by design
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.aggregate(
                F.zip_with("_qa", "_qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("ia").orderBy(F.col("dot").desc(), F.col("ib").asc())
    nn = (
        dots.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 8)
        .select("ia", "ib")
        .localCheckpoint(eager=True)  # k×256 edge list; both join sides
    )
    rev = nn.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"))
    edges = (
        nn.join(rev, ["ia", "ib"])
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("a"), F.col("ib").alias("b"))
        .localCheckpoint(eager=True)  # bounded mutual edges; 3 consumers
    )
    lab = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    ends = edges.select(F.col("a").alias("vec_id")).unionAll(
        edges.select(F.col("b").alias("vec_id"))
    )
    deg = (
        lab.join(ends.withColumn("_one", F.lit(1)), "vec_id", "left")
        .groupBy("vec_id", "label")
        .agg(F.sum(F.coalesce(F.col("_one"), F.lit(0))).cast("long").alias("degree"))
    )
    la = lab.select(F.col("vec_id").alias("a"), F.col("label").alias("_la"))
    lb = lab.select(F.col("vec_id").alias("b"), F.col("label").alias("_lb"))
    intra = (
        edges.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    per = (
        deg.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("degree").cast("long").alias("degree_sum"),
        )
        .join(F.broadcast(intra), "label", "left")
        .select(
            "label",
            "n_nodes",
            "degree_sum",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("long").alias("intra_edges"),
        )
        .localCheckpoint(eager=True)  # community grain (10 rows); 2 consumers
    )
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    tot = (
        per.crossJoin(F.broadcast(m))  # broadcast 1-row edge count
        .agg(
            F.sum(
                4 * F.col("m") * F.col("intra_edges")
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("long")
            .alias("q_num"),
            F.max("m").cast("long").alias("m"),
        )
    )
    return (
        per.crossJoin(F.broadcast(tot))  # broadcast 1-row totals
        .filter(F.col("m") > 0)
        .select(
            "label",
            "n_nodes",
            "degree_sum",
            "intra_edges",
            (
                4 * F.col("m") * F.col("intra_edges")
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("long")
            .alias("q_contrib_num"),
            F.col("m").alias("n_edges"),
            F.round(
                (F.lit(1000000.0) * F.col("q_num").cast("double"))
                / (F.lit(4.0) * F.col("m").cast("double") * F.col("m").cast("double"))
            )
            .cast("long")
            .alias("modularity_micro"),
        )
        .orderBy("label")
    )


@query(
    "langid_confusion_report",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang AS gold,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS tokens,
             length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))
               AS cjk
      FROM documents
    ),
    hits AS (
      SELECT doc_id, gold, cjk,
        len(list_filter(tokens, t -> t IN ('the','and','of','to','a','in',
          'is','that','it','for'))) AS en,
        len(list_filter(tokens, t -> t IN ('der','die','das','und','ist',
          'nicht','ein','mit','auf','zu'))) AS de,
        len(list_filter(tokens, t -> t IN ('le','la','les','et','est','des',
          'un','une','dans','que'))) AS fr,
        len(list_filter(tokens, t -> t IN ('el','los','las','es','y','un',
          'una','en','del','por'))) AS es
      FROM toks
    ),
    p AS (
      SELECT gold, CASE
        WHEN cjk > 0 THEN 'zh'
        WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        WHEN fr >= es AND fr > 0 THEN 'fr'
        WHEN es > 0 THEN 'es'
        ELSE 'unknown' END AS pred
      FROM hits
    ),
    g AS (
      SELECT gold, CAST(count(*) AS BIGINT) AS n_gold,
             CAST(sum(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT)
               AS tp
      FROM p GROUP BY 1
    ),
    pc AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pred FROM p GROUP BY 1),
    cls AS (
      SELECT g.gold, g.n_gold, COALESCE(pc.n_pred, 0) AS n_pred, g.tp,
             1000000 * g.tp // greatest(COALESCE(pc.n_pred, 0), 1)
               AS precision_ppm,
             1000000 * g.tp // greatest(g.n_gold, 1) AS recall_ppm
      FROM g LEFT JOIN pc ON pc.pred = g.gold
    ),
    f AS (
      SELECT gold, n_gold, n_pred, tp, precision_ppm, recall_ppm,
             2 * precision_ppm * recall_ppm
               // greatest(precision_ppm + recall_ppm, 1) AS f1_ppm
      FROM cls
    ),
    ov AS (
      SELECT CAST(1000000 * sum(tp) // sum(n_gold) AS BIGINT)
               AS accuracy_ppm,
             CAST(sum(f1_ppm) // count(*) AS BIGINT) AS macro_f1_ppm
      FROM f
    )
    SELECT f.gold, f.n_gold, CAST(f.n_pred AS BIGINT) AS n_pred, f.tp,
           CAST(f.precision_ppm AS BIGINT) AS precision_ppm,
           CAST(f.recall_ppm AS BIGINT) AS recall_ppm,
           CAST(f.f1_ppm AS BIGINT) AS f1_ppm,
           ov.accuracy_ppm, ov.macro_f1_ppm
    FROM f, ov ORDER BY f.gold
    """,
)
def langid_confusion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-CLASS CONFUSION report for the heuristic language-ID against
    the gold lang column — the classifier-eval gate the lang family was
    missing: lang_id emits the prediction DISTRIBUTION, naive_bayes_lang_id
    a second model, knn_label_eval covers the embedding classifier; this
    one scores lang_id itself with per-class precision/recall/F1 and the
    corpus accuracy + macro-F1 every curation pipeline reports before
    trusting a language filter (a per-class recall hole silently deletes
    a language from the training mix — exactly what macro-F1 catches and
    plain accuracy hides). All-integer: the per-(gold,pred) contingency
    is exact counts; precision/recall quantize ONCE to ppm with
    truncating division (greatest(·,1) guards the never-predicted class
    to 0 ppm — the sklearn zero_division=0 convention, documented);
    F1 combines the ALREADY-QUANTIZED ppm pair as 2PR div (P+R) — the
    quantize-then-combine order is part of the contract, so both engines
    truncate identically; macro-F1 is the integer floor-mean over gold
    classes. Map-only over the corpus + two class-grain aggregates: scan
    speed at 100 TB. The prediction rule is byte-identical to the
    lang_id gate's attested SQL twin, so a drift in the heuristic fails
    two gates by name. Randomized second opinion: the ppm pipeline vs a
    Fraction-based sklearn-convention mirror in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import lang_id

    docs = load_table(spark, "documents", sf_dir)
    p = docs.select(
        F.col("lang").alias("gold"), lang_id("text").alias("pred")
    ).localCheckpoint(eager=True)  # one corpus pass; 2 class-grain consumers
    g = p.groupBy("gold").agg(
        F.count(F.lit(1)).cast("long").alias("n_gold"),
        F.sum(F.when(F.col("pred") == F.col("gold"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    pc = p.groupBy(F.col("pred").alias("gold")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    cls = (
        g.join(F.broadcast(pc), "gold", "left")
        .select(
            "gold",
            "n_gold",
            F.coalesce(F.col("n_pred"), F.lit(0)).cast("long").alias("n_pred"),
            "tp",
        )
        .withColumn(
            "precision_ppm",
            F.expr("(1000000 * tp) div greatest(n_pred, 1)"),
        )
        .withColumn(
            "recall_ppm", F.expr("(1000000 * tp) div greatest(n_gold, 1)")
        )
        .withColumn(
            "f1_ppm",
            F.expr(
                "(2 * precision_ppm * recall_ppm)"
                " div greatest(precision_ppm + recall_ppm, 1)"
            ),
        )
        .localCheckpoint(eager=True)  # class grain (5 rows); 2 consumers
    )
    ov = cls.agg(
        F.expr("(1000000 * sum(tp)) div sum(n_gold)").alias("accuracy_ppm"),
        F.expr("sum(f1_ppm) div count(1)").alias("macro_f1_ppm"),
    )
    return (
        cls.crossJoin(F.broadcast(ov))  # broadcast 1-row overall scores
        .select(
            "gold", "n_gold", "n_pred", "tp", "precision_ppm", "recall_ppm",
            "f1_ppm", "accuracy_ppm", "macro_f1_ppm",
        )
        .orderBy("gold")
    )


@query(
    "kendall_tau_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
        CAST(sum(CASE WHEN (b.x > a.x AND b.y > a.y)
                        OR (b.x < a.x AND b.y < a.y) THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(sum(CASE WHEN (b.x > a.x AND b.y < a.y)
                        OR (b.x < a.x AND b.y > a.y) THEN 1 ELSE 0 END)
             AS BIGINT) AS d,
        CAST(count(*) AS BIGINT) AS n0
      FROM hourly a JOIN hourly b
        ON b.event_type = a.event_type AND b.h > a.h
      GROUP BY 1
    ),
    tx AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) / 2) AS BIGINT) AS t1
      FROM (SELECT event_type, x, count(*) AS t FROM hourly GROUP BY 1, 2)
      GROUP BY 1
    ),
    ty AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) / 2) AS BIGINT) AS t2
      FROM (SELECT event_type, y, count(*) AS t FROM hourly GROUP BY 1, 2)
      GROUP BY 1
    ),
    m AS (
      SELECT p.event_type, p.c, p.d, p.n0, tx.t1, ty.t2,
             CAST((SELECT count(*) FROM hourly h2
                   WHERE h2.event_type = p.event_type) AS BIGINT) AS n_hours
      FROM p JOIN tx USING (event_type) JOIN ty USING (event_type)
    )
    SELECT event_type, n_hours, c AS concordant, d AS discordant,
           t1 AS x_tie_pairs, t2 AS y_tie_pairs,
           round(CAST(c - d AS DOUBLE)
                 / (sqrt(CAST(n0 - t1 AS DOUBLE))
                    * sqrt(CAST(n0 - t2 AS DOUBLE))), 6) + 0.0 AS tau_b
    FROM m WHERE n0 - t1 > 0 AND n0 - t2 > 0
    ORDER BY event_type
    """,
)
def kendall_tau_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL τ-b between hourly volume and hourly revenue per event
    type (Kendall 1938; the τ-b tie correction per Kendall 1945) —
    completing the rank-correlation pair with spearman_hourly_rho: ρ
    weights by rank distance, τ counts raw pair inversions (the
    statistic behind mann_kendall_trend, here between two SERIES rather
    than series-vs-time), so the two gates cross-check each other's
    ranking devices on the same frame. Exact integers end to end:
    concordant/discordant from ONE ordered pair join (b.h > a.h, so
    each unordered pair counts exactly once — n0 = C(n,2) falls out of
    the same join as count(*), never computed as a formula that could
    drift from the join's pair set), tie-pair terms Σt(t−1)/2 at value
    grain (exactly divisible before the cast on both engines), and
    τ_b = (C−D)/(√(n0−T1)·√(n0−T2)) as two correctly-rounded sqrts,
    one product, one division, one 6dp round. All-tied axes filter on
    the exact integers. The pair join runs at HOURLY-SERIES grain:
    C(hours, 2) per type — bounded by the time range (≈260k pairs per
    type at 30 days), never by corpus volume (the mann_kendall
    posture). Randomized second opinion: brute-force τ-b + the
    inclusion-exclusion pair identity C + D + ties = C(n,2) in
    tests/test_randomized_references.py."""
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum("_c").cast("long").alias("y"),
        )
        .localCheckpoint(eager=True)  # hour grain; pair join + tie counts
    )
    a = hourly.select(
        "event_type",
        F.col("h").alias("_ha"),
        F.col("x").alias("_xa"),
        F.col("y").alias("_ya"),
    )
    b = hourly.select(
        "event_type",
        F.col("h").alias("_hb"),
        F.col("x").alias("_xb"),
        F.col("y").alias("_yb"),
    )
    p = (
        a.join(b, "event_type")
        .filter(F.col("_hb") > F.col("_ha"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    ((F.col("_xb") > F.col("_xa")) & (F.col("_yb") > F.col("_ya")))
                    | ((F.col("_xb") < F.col("_xa")) & (F.col("_yb") < F.col("_ya"))),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("c"),
            F.sum(
                F.when(
                    ((F.col("_xb") > F.col("_xa")) & (F.col("_yb") < F.col("_ya")))
                    | ((F.col("_xb") < F.col("_xa")) & (F.col("_yb") > F.col("_ya"))),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("d"),
            F.count(F.lit(1)).cast("long").alias("n0"),
        )
    )

    def _tie_pairs(col: str, out: str) -> DataFrame:
        return (
            hourly.groupBy("event_type", col)
            .agg(F.count(F.lit(1)).cast("long").alias("t"))
            .groupBy("event_type")
            .agg(
                (F.sum(F.col("t") * (F.col("t") - 1)) / 2)
                .cast("long")
                .alias(out)
            )
        )

    n_hours = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours")
    )
    m = (
        p.join(_tie_pairs("x", "t1"), "event_type")
        .join(_tie_pairs("y", "t2"), "event_type")
        .join(n_hours, "event_type")
    )
    return (
        m.filter((F.col("n0") - F.col("t1") > 0) & (F.col("n0") - F.col("t2") > 0))
        .select(
            "event_type",
            "n_hours",
            F.col("c").alias("concordant"),
            F.col("d").alias("discordant"),
            F.col("t1").alias("x_tie_pairs"),
            F.col("t2").alias("y_tie_pairs"),
            (
                F.round(
                    (F.col("c") - F.col("d")).cast("double")
                    / (
                        F.sqrt((F.col("n0") - F.col("t1")).cast("double"))
                        * F.sqrt((F.col("n0") - F.col("t2")).cast("double"))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("tau_b"),
        )
        .orderBy("event_type")
    )


# RBO geometric weights, computed ONCE here and inlined into BOTH engines
# (the retrieval_eval_ndcg inlined-log2-discount play): w_d = (1-p)p^(d-1)
# at p = 0.9, quantized to nano; mult_d = 2520/d clears the 1/d exactly
# (2520 = lcm(1..10)), so the per-query score is ONE exact integer sum.
_RBO_P_NANO = [round(1e9 * 0.1 * 0.9 ** (d - 1)) for d in range(1, 11)]
_RBO_DEN_NANO = 2520 * 10**9
_RBO_WTAB_SQL = ", ".join(
    f"({d}, {w}, {2520 // d})" for d, w in enumerate(_RBO_P_NANO, start=1)
)


@query(
    "retrieval_rbo_report",
    oracle=f"""
    WITH q AS (
      SELECT e.vec_id, d.d,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000) AS BIGINT) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
      WHERE e.vec_id < 256
    ),
    dots AS (
      SELECT a.vec_id AS qid, b.vec_id AS ib,
             CAST(sum(a.v * b.v) AS BIGINT) AS full_dot,
             CAST(sum(CASE WHEN a.d <= 16 THEN a.v * b.v ELSE 0 END)
                  AS BIGINT) AS trunc_dot
      FROM q a JOIN q b ON a.d = b.d AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 16
      GROUP BY 1, 2
    ),
    ra AS (
      SELECT qid, ib, row_number() OVER (PARTITION BY qid
               ORDER BY full_dot DESC, ib ASC) AS r
      FROM dots
    ),
    rb AS (
      SELECT qid, ib, row_number() OVER (PARTITION BY qid
               ORDER BY trunc_dot DESC, ib ASC) AS r
      FROM dots
    ),
    common AS (
      SELECT a.qid, greatest(a.r, b.r) AS mr
      FROM ra a JOIN rb b ON b.qid = a.qid AND b.ib = a.ib
      WHERE a.r <= 10 AND b.r <= 10
    ),
    wtab AS (
      SELECT * FROM (VALUES {_RBO_WTAB_SQL}) AS t(d, w_nano, mult)
    ),
    od AS (
      SELECT g.qid, w.d, w.w_nano, w.mult,
             CAST(count(c.mr) AS BIGINT) AS o_d
      FROM (SELECT DISTINCT qid FROM dots) g
      CROSS JOIN wtab w
      LEFT JOIN common c ON c.qid = g.qid AND c.mr <= w.d
      GROUP BY 1, 2, 3, 4
    ),
    per AS (
      SELECT qid,
             CAST(sum(w_nano * o_d * mult) AS BIGINT) AS num,
             CAST(max(CASE WHEN d = 10 THEN o_d END) AS BIGINT) AS overlap10
      FROM od GROUP BY 1
    ),
    scored AS (
      SELECT qid, overlap10,
             CAST(round((1000000.0 * num) / {_RBO_DEN_NANO}.0) AS BIGINT)
               AS rbo_micro
      FROM per
    ),
    mean_r AS (
      SELECT CAST(sum(rbo_micro) // count(*) AS BIGINT) AS mean_rbo_micro
      FROM scored
    )
    SELECT s.qid, s.overlap10, s.rbo_micro, m.mean_rbo_micro
    FROM scored s, mean_r m
    ORDER BY s.qid
    """,
)
def retrieval_rbo_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP between full-dimension and 16-dim-truncated
    retrieval rankings (Webber, Moffat & Zobel 2010, TOIS — the
    top-weighted, non-conjoint ranking-agreement measure IR evals use
    where Kendall/Spearman assume full conjoint lists) — the RANKING
    companion of matryoshka_truncation_report: that gate scores recall
    of the truncated index, this one scores how much of the AGREEMENT
    sits at the top, RBO@10 = (1−p)Σ p^(d−1)·|A_d ∩ B_d|/d at p = 0.9
    (a miss at rank 1 hurts ~9× more than at rank 10 — exactly the
    serving-quality question truncation raises). Exact-integer
    discipline: both rankings come from the SAME integer milli-dot
    pass (full sum vs dims ≤ 16 partial sum — one conditional
    aggregate, not two scans), prefix overlaps reduce to
    count(max(rank_a, rank_b) ≤ d) on the joined top-10 lists, the
    geometric weights are nano-quantized ONCE in python and inlined
    into both engines (the ndcg inlined-discount play), and 1/d clears
    exactly through mult = 2520/d (lcm(1..10)) — so each query's score
    is one exact integer sum, ONE double division + round to micro,
    and the corpus mean is an integer floor-mean. Depths with zero
    overlap contribute 0 via the weight-grid LEFT JOIN (dropping them
    would silently skip weights). Bounded: 16 queries × the pinned
    256-vector sample (the margin/hubness regime; at scale both arms
    read the ANN candidate lists). Randomized second opinion: the
    cleared-denominator integer form vs a float per-definition RBO in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.clustering import quantize_milli

    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 256)
    q = quantize_milli(emb)
    a = q.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("_qa")
    )
    b = q.select(F.col("vec_id").alias("ib"), F.col("q").alias("_qb"))
    pos = F.array([F.lit(i) for i in range(64)])
    dots = (
        a.crossJoin(F.broadcast(b))  # bounded 16×256 sample, by design
        .filter(F.col("qid") != F.col("ib"))
        .select(
            "qid",
            "ib",
            F.aggregate(
                F.zip_with("_qa", "_qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("full_dot"),
            F.aggregate(
                F.zip_with(
                    F.zip_with("_qa", "_qb", lambda x, y: x * y),
                    pos,
                    lambda prod, i: F.when(i < 16, prod).otherwise(F.lit(0)),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("trunc_dot"),
        )
        .localCheckpoint(eager=True)  # 16×255 rows; two rank consumers
    )
    wa = Window.partitionBy("qid").orderBy(
        F.col("full_dot").desc(), F.col("ib").asc()
    )
    wb = Window.partitionBy("qid").orderBy(
        F.col("trunc_dot").desc(), F.col("ib").asc()
    )
    ra = dots.select("qid", "ib", F.row_number().over(wa).alias("r")).filter(
        F.col("r") <= 10
    )
    rb = dots.select("qid", "ib", F.row_number().over(wb).alias("r")).filter(
        F.col("r") <= 10
    )
    common = (
        ra.join(
            rb.select("qid", "ib", F.col("r").alias("_rb")), ["qid", "ib"]
        )
        .select("qid", F.greatest("r", "_rb").alias("mr"))
    )
    wtab = spark.createDataFrame(
        [(d, w, 2520 // d) for d, w in enumerate(_RBO_P_NANO, start=1)],
        "d INT, w_nano LONG, mult LONG",
    )
    grid = dots.select("qid").distinct().crossJoin(F.broadcast(wtab))
    od = (
        grid.join(
            common.withColumn("_one", F.lit(1)),
            (grid["qid"] == common["qid"]) & (common["mr"] <= grid["d"]),
            "left",
        )
        .groupBy(grid["qid"].alias("qid"), "d", "w_nano", "mult")
        .agg(F.sum(F.coalesce(F.col("_one"), F.lit(0))).cast("long").alias("o_d"))
    )
    per = od.groupBy("qid").agg(
        F.sum(F.col("w_nano") * F.col("o_d") * F.col("mult"))
        .cast("long")
        .alias("num"),
        F.max(F.when(F.col("d") == 10, F.col("o_d"))).cast("long").alias("overlap10"),
    )
    scored = per.select(
        "qid",
        "overlap10",
        F.round(
            (F.lit(1000000.0) * F.col("num").cast("double"))
            / F.lit(float(_RBO_DEN_NANO))
        )
        .cast("long")
        .alias("rbo_micro"),
    ).localCheckpoint(eager=True)  # 16 rows; mean + output
    mean_r = scored.agg(
        F.expr("sum(rbo_micro) div count(1)").alias("mean_rbo_micro")
    )
    return (
        scored.crossJoin(F.broadcast(mean_r))  # broadcast 1-row mean
        .select("qid", "overlap10", "rbo_micro", "mean_rbo_micro")
        .orderBy("qid")
    )


@query(
    "embedding_spectrum_report",
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
    s AS (SELECT i, CAST(sum(v) AS BIGINT) AS s FROM x GROUP BY 1),
    nt AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM x),
    m AS (
      SELECT c.i, c.j,
             CAST(nt.n AS HUGEINT) * c.c
               - CAST(si.s AS HUGEINT) * sj.s AS mv
      FROM c JOIN s si ON si.i = c.i JOIN s sj ON sj.i = c.j, nt
    ),
    var AS (
      SELECT i, CAST(mv AS BIGINT) AS var_num FROM m WHERE i = j
    ),
    tr AS (
      SELECT CAST(sum(CAST(var_num AS HUGEINT)) AS HUGEINT) AS trace_num
      FROM var
    ),
    tsq AS (SELECT CAST(sum(mv * mv) AS HUGEINT) AS trace_sq FROM m),
    ov AS (
      SELECT nt.n AS n_vectors, CAST(tr.trace_num AS BIGINT) AS trace_num,
             CAST(round((1000000.0 * tr.trace_num * tr.trace_num)
                        / CAST(tsq.trace_sq AS DOUBLE)) AS BIGINT)
               AS participation_micro
      FROM tr, tsq, nt
      WHERE tsq.trace_sq > 0 AND tr.trace_num > 0
    )
    SELECT CAST(v.i - 1 AS INT) AS dim_idx, v.var_num,
           CAST(1000000 * CAST(v.var_num AS HUGEINT)
                // o.trace_num AS BIGINT) AS var_share_ppm,
           o.n_vectors, o.trace_num, o.participation_micro
    FROM var v, ov o
    ORDER BY dim_idx
    """,
)
def embedding_spectrum_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRUM summary of the embedding covariance — per-dimension
    variance shares plus the PARTICIPATION RATIO (tr Σ)²/tr(Σ²), the
    eigenvalue-free effective-rank measure (Gorban et al.; a.k.a.
    inverse participation ratio in physics): PR = d when variance is
    isotropic, PR → 1 when one direction dominates — the intrinsic-
    dimensionality number that decides IVF list counts, PQ subspace
    splits, and matryoshka truncation depth WITHOUT an eigensolver
    (tr(Σ²) = Σ_ij Σ_ij² = Σλ² by Frobenius, so no iteration, no
    convergence question — the measurement embedding_power_iteration's
    top-direction answer can't give). Exact integers: the n²-scaled
    centered scatter M_ij = n·G_ij − s_i·s_j from the SAME one-pass
    Arrow int64 Gram the PCA gates use (corpus touched once; dim sums
    are one map-side aggregate), per-dim variance rows and their ppm
    shares by truncating division, trace and Σ M² in HUGEINT/decimal-38
    (≈1.6e32 at sf0.1, checked), ONE double division + micro round for
    PR (scale-invariant, so the n² clearing cancels exactly).
    Degenerate corpora (zero variance) filter on the exact integers.
    100 TB shape: everything after the Gram pass runs at the 64×64
    model grain. Randomized second opinion: PR vs numpy eigenvalues
    ((Σλ)²/Σλ²) in tests/test_randomized_references.py."""
    from pdf_brain_spark.operators.clustering import quantize_milli
    from pdf_brain_spark.operators.pca import gram_matrix_int

    emb = load_table(spark, "embeddings", sf_dir)
    gram = gram_matrix_int(emb, dim=64).localCheckpoint(
        eager=True
    )  # 64x64 model grain; diagonal + full-matrix consumers
    s = (
        quantize_milli(emb)
        .select(F.posexplode("q").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").cast("long").alias("s"))
    )
    nt = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    si = s.select(F.col("i"), F.col("s").alias("_si"))
    sj = s.select(F.col("i").alias("j"), F.col("s").alias("_sj"))
    m = (
        gram.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(nt))  # broadcast 1-row count
        .select(
            "i",
            "j",
            (
                F.col("n").cast("decimal(38,0)") * F.col("c")
                - F.col("_si").cast("decimal(38,0)") * F.col("_sj")
            ).alias("mv"),
        )
        .localCheckpoint(eager=True)  # 4096 rows; diagonal + Frobenius
    )
    var = m.filter(F.col("i") == F.col("j")).select(
        "i", F.col("mv").cast("long").alias("var_num")
    )
    tr = var.agg(F.sum("var_num").cast("decimal(38,0)").alias("trace_num"))
    tsq = m.agg(
        F.sum(F.col("mv") * F.col("mv")).cast("decimal(38,0)").alias("trace_sq")
    )
    ov = (
        tr.crossJoin(F.broadcast(tsq))
        .crossJoin(F.broadcast(nt))  # broadcast 1-row summaries
        .filter((F.col("trace_sq") > 0) & (F.col("trace_num") > 0))
        .select(
            F.col("n").alias("n_vectors"),
            F.col("trace_num").cast("long").alias("trace_num"),
            F.round(
                (
                    F.lit(1000000.0)
                    * F.col("trace_num").cast("double")
                    * F.col("trace_num").cast("double")
                )
                / F.col("trace_sq").cast("double")
            )
            .cast("long")
            .alias("participation_micro"),
        )
    )
    return (
        var.crossJoin(F.broadcast(ov))  # broadcast 1-row summaries
        .select(
            F.col("i").cast("int").alias("dim_idx"),
            "var_num",
            F.expr(
                "CAST((1000000 * CAST(var_num AS DECIMAL(38,0)))"
                " div trace_num AS BIGINT)"
            ).alias("var_share_ppm"),
            "n_vectors",
            "trace_num",
            "participation_micro",
        )
        .orderBy("dim_idx")
    )


@query(
    "yule_k_by_source",
    oracle="""
    WITH t AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                    '\\s+'), x -> x <> '')) AS term
      FROM documents
    ),
    c AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM t GROUP BY 1, 2
    ),
    m AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM c GROUP BY 1
    )
    SELECT source, n_tokens, n_types, s2,
           round((10000.0 * (s2 - n_tokens))
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) + 0.0
             AS yule_k
    FROM m WHERE n_tokens > 0
    ORDER BY source
    """,
)
def yule_k_by_source(
    spark: SparkSession, sf_dir: str, shared_counts: DataFrame | None = None
) -> DataFrame:
    """YULE'S CHARACTERISTIC K per source (Yule 1944, 'The Statistical
    Study of Literary Vocabulary') — the SIZE-INVARIANT lexical-richness
    constant completing the vocabulary family: TTR shrinks with corpus
    size, Heaps fits growth, Zipf fits the rank curve; K = 10⁴·(Σc² −
    N)/N² is the repeat-rate statistic that stays comparable across
    sources of different lengths (it estimates the probability two
    random tokens are the same type, scaled — high K = repetitive
    vocabulary, the template/boilerplate signal at source grain). Exact
    integers to the last step: per-(source, type) counts, N = Σc and
    S2 = Σc² as exact BIGINTs (the counts-of-counts identity Σm²·V_m =
    Σc² means no V_m table is needed — proven in the second opinion),
    ONE double division + 6dp round (the kappa play: K is a small
    positive ratio, same expression shape both engines). Empty sources
    filter on the exact N. 100 TB shape: one map-side-combinable
    (source, term) aggregate then source grain — the source_token_entropy
    posture. Randomized second opinion: Σm²V_m == Σc² in exact ints and
    a float per-definition mirror in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import tokenize

    # r16 A/B: spread_scan here measured +0.19 s (0.56→0.75 warm min) —
    # reverted (tokenize-only chain; see OPTIMIZATION_r16.md).
    # r17: `shared_counts` (the suite_term_stats shared (source, term,
    # c) table) IS this gate's first groupBy — consumed directly.
    if shared_counts is not None:
        c = shared_counts.select("source", "term", F.col("c").cast("long").alias("c"))
    else:
        docs = load_table(spark, "documents", sf_dir)
        c = (
            docs.select("source", F.explode(tokenize("text")).alias("term"))
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
    m = c.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    return (
        m.filter(F.col("n_tokens") > 0)
        .select(
            "source",
            "n_tokens",
            "n_types",
            "s2",
            (
                F.round(
                    (F.lit(10000.0) * (F.col("s2") - F.col("n_tokens")).cast("double"))
                    / (
                        F.col("n_tokens").cast("double")
                        * F.col("n_tokens").cast("double")
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("yule_k"),
        )
        .orderBy("source")
    )


# Periodogram trig tables, computed ONCE here and inlined into BOTH engines
# (the RBO/ndcg inlined-constant play): cos/sin of 2*pi*phase/P quantized
# to micro for the fixed candidate periods. Quantization error is shared by
# both engines, so cross-engine equality is exact by construction.
import math as _pg_math  # noqa: E402 — feeds only the constant table below

_PG_PERIODS = [24, 12, 8, 6]
_PG_TRIG = [
    (
        P,
        p,
        round(1e6 * _pg_math.cos(2 * _pg_math.pi * p / P)),
        round(1e6 * _pg_math.sin(2 * _pg_math.pi * p / P)),
    )
    for P in _PG_PERIODS
    for p in range(P)
]
_PG_TRIG_SQL = ", ".join(f"({P}, {p}, {c}, {s})" for P, p, c, s in _PG_TRIG)


@query(
    "events_periodogram",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
                  AS BIGINT) AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    sc AS (
      SELECT event_type, t, x,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(count(*) OVER (PARTITION BY event_type) * x
                  - sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS r
      FROM hourly
    ),
    trig AS (
      SELECT * FROM (VALUES {_PG_TRIG_SQL}) AS t(period, phase, c, s)
    ),
    ab AS (
      SELECT sc.event_type, tr.period, CAST(max(sc.n) AS BIGINT) AS n_hours,
             CAST(sum(sc.r * tr.c) AS BIGINT) AS a_num,
             CAST(sum(sc.r * tr.s) AS BIGINT) AS b_num
      FROM sc JOIN trig tr
        ON tr.phase = sc.t % tr.period
      GROUP BY 1, 2
    ),
    amp AS (
      SELECT event_type, period, n_hours, a_num, b_num,
             round((2.0 * sqrt(CAST(a_num AS DOUBLE) * a_num
                               + CAST(b_num AS DOUBLE) * b_num))
                   / (CAST(n_hours AS DOUBLE) * n_hours * 1000000.0), 3)
               + 0.0 AS amplitude_cents
      FROM ab WHERE n_hours > 1
    )
    SELECT event_type, CAST(period AS INT) AS period_hours, n_hours,
           a_num, b_num, amplitude_cents,
           (row_number() OVER (PARTITION BY event_type
              ORDER BY amplitude_cents DESC, period ASC) = 1) AS dominant
    FROM amp
    ORDER BY event_type, period_hours
    """,
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-FREQUENCY PERIODOGRAM of the hourly revenue series per event
    type (Schuster 1898; the classical DFT-at-candidate-periods seasonal
    screen) — the FREQUENCY-DOMAIN member of the seasonality family:
    events_hourly_seasonality reads the hour-of-day profile,
    seasonal_decompose_ma subtracts a moving average; this one measures
    HOW MUCH energy sits at each candidate period (24/12/8/6 h) as the
    Fourier amplitude 2·√(A²+B²)/n, the quantity that ranks competing
    cycles and justifies the decomposition window. Exact-integer
    discipline: residuals in the cleared form r_t = n·x_t − Σx (the
    events_cusum_drift device — no float mean), cos/sin quantized ONCE
    to micro in python and inlined into both engines (the RBO/ndcg
    constant play — shared quantization error means exact cross-engine
    equality), A/B as exact BIGINT dot products of r against the
    phase-joined table (|A| ≤ hours·n·maxx·1e6 ≈ 5e16 at this range —
    int64-checked; a longer range would move these to decimal-38), ONE
    sqrt + one division + 3dp round for the amplitude, and the dominant
    flag by rank over the identical rounded doubles (period tie-break).
    Grain: everything after the hour×type aggregate runs at series
    grain — phases join on t mod P against a ≤50-row broadcast table,
    the mann_kendall posture. Randomized second opinion: a planted
    24h sinusoid is recovered as dominant with amplitude within the
    micro-trig tolerance, tests/test_randomized_references.py."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("t"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "t")
        .agg(F.sum("_c").cast("long").alias("x"))
    )
    wt = Window.partitionBy("event_type")
    sc = hourly.select(
        "event_type",
        "t",
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
        (F.count(F.lit(1)).over(wt) * F.col("x") - F.sum("x").over(wt))
        .cast("long")
        .alias("r"),
    )
    trig = spark.createDataFrame(
        _PG_TRIG, "period INT, phase INT, c LONG, s LONG"
    )
    ab = (
        sc.join(
            F.broadcast(trig),
            trig["phase"] == sc["t"] % trig["period"],
        )
        .groupBy("event_type", "period")
        .agg(
            F.max("n").cast("long").alias("n_hours"),
            F.sum(F.col("r") * F.col("c")).cast("long").alias("a_num"),
            F.sum(F.col("r") * F.col("s")).cast("long").alias("b_num"),
        )
    )
    amp = ab.filter(F.col("n_hours") > 1).withColumn(
        "amplitude_cents",
        F.round(
            (
                F.lit(2.0)
                * F.sqrt(
                    F.col("a_num").cast("double") * F.col("a_num")
                    + F.col("b_num").cast("double") * F.col("b_num")
                )
            )
            / (
                F.col("n_hours").cast("double")
                * F.col("n_hours")
                * F.lit(1000000.0)
            ),
            3,
        )
        + F.lit(0.0),
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.col("amplitude_cents").desc(), F.col("period").asc()
    )
    return amp.select(
        "event_type",
        F.col("period").cast("int").alias("period_hours"),
        "n_hours",
        "a_num",
        "b_num",
        "amplitude_cents",
        (F.row_number().over(wd) == 1).alias("dominant"),
    ).orderBy("event_type", "period_hours")


@query(
    "taxonomy_lca_similarity",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT o_orderkey AS node, o_orderkey AS ancestor, 0 AS depth
      FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 64
      UNION
      SELECT a.node, a.ancestor // 2, a.depth + 1
      FROM anc a WHERE a.ancestor > 1
    ),
    pairs AS (
      SELECT a.o_orderkey AS a, b.o_orderkey AS b
      FROM orders a JOIN orders b ON a.o_orderkey < b.o_orderkey
      WHERE a.o_orderkey >= 2 AND a.o_orderkey <= 64
        AND b.o_orderkey >= 2 AND b.o_orderkey <= 64
    ),
    common AS (
      SELECT p.a, p.b, ca.ancestor AS lca_cand,
             ca.depth AS da, cb.depth AS db
      FROM pairs p
      JOIN anc ca ON ca.node = p.a
      JOIN anc cb ON cb.node = p.b AND cb.ancestor = ca.ancestor
    ),
    lca AS (
      SELECT a, b, lca_cand AS lca, da, db FROM (
        SELECT a, b, lca_cand, da, db,
               row_number() OVER (PARTITION BY a, b
                 ORDER BY da + db ASC, lca_cand ASC) AS rn
        FROM common) WHERE rn = 1
    ),
    droot AS (
      SELECT node, CAST(max(depth) AS BIGINT) AS dr FROM anc GROUP BY 1
    )
    SELECT l.a, l.b, l.lca,
           CAST(l.da + l.db AS BIGINT) AS tree_distance,
           dl.dr AS lca_depth,
           CAST(2000 * dl.dr // (dra.dr + drb.dr) AS BIGINT)
             AS wu_palmer_milli
    FROM lca l
    JOIN droot dl ON dl.node = l.lca
    JOIN droot dra ON dra.node = l.a
    JOIN droot drb ON drb.node = l.b
    WHERE dra.dr + drb.dr > 0
    ORDER BY l.a, l.b
    """,
)
def taxonomy_lca_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOWEST COMMON ANCESTOR + WU-PALMER similarity over the taxonomy
    closure (Wu & Palmer 1994, ACL — THE graph-based concept-similarity
    measure SKOS knowledge bases serve; reference's TaxonomyService
    exposes the closure this derives from, TaxonomyService.ts:387-423):
    for every concept pair, the deepest shared ancestor, the tree
    distance through it, and wup = 2·depth(lca)/(depth(a)+depth(b)) —
    the 'related concepts' score that ranks siblings above cousins. On
    the same implicit binary tree parent(k) = k div 2 over the
    key-bounded order keys the transitive_closure gate attests (keys
    1..64 are DENSE at all three scales — probed, so the arithmetic
    chain and the present-key edge chain agree). Exact integers: the
    closure carries integer depths (self rows at depth 0 make LCA-of-
    ancestor cases uniform), LCA per pair is argmin(d_a + d_b) with id
    tie-break (on a tree the common ancestors form a chain, so the min
    is unique — the tie-break is belt-and-braces determinism), depths-
    from-root are max-depth roll-ups of the same closure (no float
    log2 — a log2(2^k) boundary would be engine-rounding territory),
    and wu_palmer quantizes ONCE by truncating milli division. Bounded:
    C(63,2) = 1953 pairs × ≤7 ancestors each — dimension grain
    everywhere (the taxonomy posture: at 100 TB concepts stay
    dimension-sized; the fact side never joins in). Randomized second
    opinion: the set-intersection argmin LCA vs the binary
    common-prefix closed form (shift-larger-until-equal) plus the
    distance identity d = (dr_a − dr_lca) + (dr_b − dr_lca), in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.taxonomy import transitive_ancestors

    orders = load_table(spark, "orders", sf_dir)
    keys = (
        orders.filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") <= 64))
        .select(F.col("o_orderkey").cast("long").alias("node"))
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=True)  # 64 keys; edges + self rows + pairs
    )
    edges = keys.filter(F.col("node") > 1).select(
        "node", F.floor(F.col("node") / 2).cast("long").alias("parent")
    )
    anc = (
        transitive_ancestors(edges, edges, acyclic=True)
        .select("node", "ancestor", "depth")
        .unionByName(
            keys.select(
                "node",
                F.col("node").alias("ancestor"),
                F.lit(0).alias("depth"),
            )
        )
        .localCheckpoint(eager=True)  # ≤ 65×7 rows; 2 pair sides + droot
    )
    a = keys.filter(F.col("node") >= 2).select(F.col("node").alias("a"))
    b = keys.filter(F.col("node") >= 2).select(F.col("node").alias("b"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("a") < F.col("b"))
    ca = anc.select(
        F.col("node").alias("a"), F.col("ancestor").alias("lca_cand"),
        F.col("depth").alias("da"),
    )
    cb = anc.select(
        F.col("node").alias("b"), F.col("ancestor").alias("lca_cand"),
        F.col("depth").alias("db"),
    )
    common = pairs.join(F.broadcast(ca), "a").join(
        F.broadcast(cb), ["b", "lca_cand"]
    )
    w = Window.partitionBy("a", "b").orderBy(
        (F.col("da") + F.col("db")).asc(), F.col("lca_cand").asc()
    )
    lca = (
        common.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("a", "b", F.col("lca_cand").alias("lca"), "da", "db")
    )
    droot = anc.groupBy("node").agg(F.max("depth").cast("long").alias("dr"))
    return (
        lca.join(
            F.broadcast(droot.select(F.col("node").alias("lca"),
                                     F.col("dr").alias("_drl"))), "lca")
        .join(F.broadcast(droot.select(F.col("node").alias("a"),
                                       F.col("dr").alias("_dra"))), "a")
        .join(F.broadcast(droot.select(F.col("node").alias("b"),
                                       F.col("dr").alias("_drb"))), "b")
        .filter(F.col("_dra") + F.col("_drb") > 0)
        .select(
            "a",
            "b",
            "lca",
            (F.col("da") + F.col("db")).cast("long").alias("tree_distance"),
            F.col("_drl").alias("lca_depth"),
            F.expr("(2000 * _drl) div (_dra + _drb)").alias("wu_palmer_milli"),
        )
        .orderBy("a", "b")
    )


@query(
    "wilcoxon_signed_rank",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, a.x - b.x AS diff
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d = a.d - INTERVAL 7 DAY
    ),
    nz AS (
      SELECT event_type, diff, abs(diff) AS ad FROM pairs WHERE diff <> 0
    ),
    h AS (
      SELECT event_type, ad, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(count(*)) OVER (PARTITION BY event_type ORDER BY ad)
                  - count(*) AS BIGINT) AS cb
      FROM nz GROUP BY 1, 2
    ),
    r AS (
      SELECT nz.event_type, nz.diff,
             CAST(2 * h.cb + h.cnt + 1 AS BIGINT) AS rr
      FROM nz JOIN h ON h.event_type = nz.event_type AND h.ad = nz.ad
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_eff,
             CAST(sum(CASE WHEN diff > 0 THEN rr ELSE 0 END) AS BIGINT)
               AS w_plus_doubled
      FROM r GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS t FROM h
      GROUP BY 1
    ),
    np AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs
      GROUP BY 1
    ),
    m AS (
      SELECT a.event_type, np.n_pairs, a.n_eff, a.w_plus_doubled,
             2 * a.n_eff * (a.n_eff + 1) * (2 * a.n_eff + 1) - t.t AS var12
      FROM agg a JOIN ties t USING (event_type) JOIN np USING (event_type)
    )
    SELECT event_type, n_pairs, n_eff, w_plus_doubled,
           CAST(var12 AS BIGINT) AS var12,
           round((CAST(2 * w_plus_doubled - n_eff * (n_eff + 1)
                       AS DOUBLE) * sqrt(3.0))
                 / sqrt(CAST(var12 AS DOUBLE)), 6) + 0.0 AS z_stat,
           (abs((CAST(2 * w_plus_doubled - n_eff * (n_eff + 1)
                      AS DOUBLE) * sqrt(3.0))
                / sqrt(CAST(var12 AS DOUBLE))) > 1.96) AS significant
    FROM m WHERE var12 > 0
    ORDER BY event_type
    """,
)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILCOXON SIGNED-RANK test of week-over-week daily revenue per
    event type (Wilcoxon 1945) — the PAIRED member completing the
    nonparametric trio (mann_whitney_u: two independent groups;
    kruskal_wallis_langs: k groups; this: matched pairs): each day is
    paired with the same weekday one week earlier, so the weekly
    seasonality that would drown a two-sample test cancels inside the
    pair, and the test asks only 'did revenue shift, same-weekday
    like-for-like'. Exact-integer devices throughout: cent diffs,
    zero-diff drop (Wilcoxon's convention, identical on both engines
    since diffs are integers), DOUBLED mid-ranks of |diff| from the
    value-histogram device per type, W⁺ as the doubled positive-rank
    sum, and the tie-corrected variance in the cleared form
    var12 = 2n(n+1)(2n+1) − Σ(t³−t) (= 12·Var of the DOUBLED W⁺, exact
    BIGINT). z = (W''⁺ − n(n+1)/2)·√12/√var12, written so the halves
    clear exactly: (2W''⁺ − n(n+1))·√3/√var12 — exact integers into two
    correctly-rounded sqrts, one product, one division, one 6dp round. All-tied /
    empty series filter on the exact var12. Grain: day×type pairs —
    time-range bounded (23 pairs per type at 30 days), the
    mann_kendall posture. Randomized second opinion: brute-force
    sort-based mid-ranks + the rank-sum identity W⁺ + W⁻ = n(n+1)
    (doubled) in tests/test_randomized_references.py."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("_c").cast("long").alias("x"))
        .localCheckpoint(eager=True)  # day grain; both pair sides
    )
    b = daily.select(
        "event_type",
        (F.col("d") + F.expr("INTERVAL 7 DAYS")).alias("d"),
        F.col("x").alias("_xb"),
    )
    pairs = daily.join(b, ["event_type", "d"]).select(
        "event_type", (F.col("x") - F.col("_xb")).alias("diff")
    ).localCheckpoint(eager=True)  # pair grain; n_pairs + ranks
    nz = pairs.filter(F.col("diff") != 0).withColumn("ad", F.abs("diff"))
    wv = Window.partitionBy("event_type").orderBy("ad")
    h = (
        nz.groupBy("event_type", "ad")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "event_type",
            "ad",
            "cnt",
            (F.sum("cnt").over(wv) - F.col("cnt")).cast("long").alias("cb"),
        )
        .localCheckpoint(eager=True)  # |diff|-value grain; ranks + ties
    )
    r = nz.join(
        h.select("event_type", "ad",
                 (2 * F.col("cb") + F.col("cnt") + 1).alias("rr")),
        ["event_type", "ad"],
    )
    agg = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_eff"),
        F.sum(F.when(F.col("diff") > 0, F.col("rr")).otherwise(0))
        .cast("long")
        .alias("w_plus_doubled"),
    )
    ties = h.groupBy("event_type").agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("t")
    )
    np_ = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    m = (
        agg.join(ties, "event_type")
        .join(np_, "event_type")
        .withColumn(
            "var12",
            (
                2 * F.col("n_eff") * (F.col("n_eff") + 1)
                * (2 * F.col("n_eff") + 1)
                - F.col("t")
            ).cast("long"),
        )
    )
    z = (
        (
            2 * F.col("w_plus_doubled")
            - F.col("n_eff") * (F.col("n_eff") + 1)
        ).cast("double")
        * F.sqrt(F.lit(3.0))
    ) / F.sqrt(F.col("var12").cast("double"))
    return (
        m.filter(F.col("var12") > 0)
        .select(
            "event_type",
            "n_pairs",
            "n_eff",
            "w_plus_doubled",
            "var12",
            (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
            (F.abs(z) > 1.96).alias("significant"),
        )
        .orderBy("event_type")
    )


@query(
    "isotonic_quality_calibration",
    oracle=f"""
    WITH {_DUCK_RATER_M.strip()},
    m AS (
      SELECT mwl,
             CASE WHEN ttr >= {RATER_TTR_PPM_THRESHOLD} THEN 1 ELSE 0 END
               AS pos
      FROM rater_m
    ),
    bands AS (
      SELECT CAST(mwl // 100 AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(pos) AS BIGINT) AS s
      FROM m GROUP BY 1
    ),
    ps AS (
      SELECT band, w, s,
             CAST(sum(w) OVER (ORDER BY band) AS BIGINT) AS cw,
             CAST(sum(s) OVER (ORDER BY band) AS BIGINT) AS cs
      FROM bands
    ),
    iv AS (
      SELECT j.band AS jb, k.band AS kb,
             CAST(1000000 * (k.cs - (j.cs - j.s))
                  // (k.cw - (j.cw - j.w)) AS BIGINT) AS m_micro
      FROM ps j JOIN ps k ON j.band <= k.band
    ),
    mn AS (
      SELECT i.band AS ib, iv.jb,
             CAST(min(iv.m_micro) AS BIGINT) AS minm
      FROM ps i
      JOIN iv ON iv.jb <= i.band AND iv.kb >= i.band
      GROUP BY 1, 2
    ),
    fit AS (
      SELECT ib AS band, CAST(max(minm) AS BIGINT) AS iso_rate_micro
      FROM mn GROUP BY 1
    )
    SELECT b.band, b.w AS n_docs, b.s AS n_pos,
           CAST(1000000 * b.s // b.w AS BIGINT) AS raw_rate_micro,
           f.iso_rate_micro
    FROM bands b JOIN fit f USING (band)
    ORDER BY b.band
    """,
)
def isotonic_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC (PAVA) calibration of a quality signal (Barlow et al.
    1972; Zadrozny & Elkan 2002 for classifier calibration) — fit the
    best MONOTONE curve P(lexically-diverse | mean-word-length band):
    the calibration every threshold-picking pipeline runs before
    trusting a raw per-band rate (the probed raw curve here is
    genuinely non-monotone — high at both tails — so the fit visibly
    pools adjacent violators; isotonic_regression is also the missing
    monotone member next to quantile_normalization's rank map and
    cosine_label_calibration's binned table). Computed WITHOUT the
    sequential pool-adjacent-violators loop, via the exact MINIMAX
    closed form fit_i = max_{j≤i} min_{k≥i} mean(y[j..k]) — the only
    shape that distributes (three band-grain joins instead of a
    stateful scan). Exact integers: band weights/positives from one
    corpus pass (the rater-B signal of rater_agreement_kappa,
    byte-identical rule), interval means from PREFIX-SUM differences
    quantized ONCE to micro by truncating division (quantize-then-
    minimax is the documented contract; max∘min ordering on integers is
    engine-free, and the fit stays monotone by construction since
    larger i only widens the max arm and narrows the min arm).
    Bounded: B ≈ 8-10 mean-word-length bands → B² intervals, ≤B³/2
    join rows — model grain regardless of corpus size; the corpus is
    touched once, map-side. Randomized second opinion: the Fraction-
    exact minimax equals a literal PAVA pooling loop, and the quantized
    pipeline mirrors within one micro-unit, in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.text import rater_raw_cols

    docs = load_table(spark, "documents", sf_dir)
    m = docs.select(*rater_raw_cols("text")).select(
        F.expr("(_sl div _nt) div 100").alias("band"),
        F.when(F.expr("_td div _nt") >= RATER_TTR_PPM_THRESHOLD, 1)
        .otherwise(0)
        .alias("pos"),
    )
    bands = (
        m.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("w"),
            F.sum("pos").cast("long").alias("s"),
        )
        .localCheckpoint(eager=True)  # band grain (≤ ~10 rows); 3 consumers
    )
    wb = Window.orderBy("band")  # band grain: bounded single-partition window
    ps = bands.select(
        "band",
        "w",
        "s",
        F.sum("w").over(wb).cast("long").alias("cw"),
        F.sum("s").over(wb).cast("long").alias("cs"),
    )
    j = ps.select(
        F.col("band").alias("jb"),
        (F.col("cs") - F.col("s")).alias("_csj"),
        (F.col("cw") - F.col("w")).alias("_cwj"),
    )
    k = ps.select(
        F.col("band").alias("kb"), F.col("cs").alias("_csk"),
        F.col("cw").alias("_cwk"),
    )
    iv = (
        j.crossJoin(F.broadcast(k))  # band-grain grid, bounded by design
        .filter(F.col("jb") <= F.col("kb"))
        .select(
            "jb",
            "kb",
            F.expr("(1000000 * (_csk - _csj)) div (_cwk - _cwj)").alias(
                "m_micro"
            ),
        )
    )
    mn = (
        bands.select(F.col("band").alias("ib"))
        .crossJoin(F.broadcast(iv))  # ≤ B^3/2 rows, band grain
        .filter((F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")))
        .groupBy("ib", "jb")
        .agg(F.min("m_micro").cast("long").alias("minm"))
    )
    fit = mn.groupBy(F.col("ib").alias("band")).agg(
        F.max("minm").cast("long").alias("iso_rate_micro")
    )
    return (
        bands.join(F.broadcast(fit), "band")
        .select(
            "band",
            F.col("w").alias("n_docs"),
            F.col("s").alias("n_pos"),
            F.expr("(1000000 * s) div w").alias("raw_rate_micro"),
            "iso_rate_micro",
        )
        .orderBy("band")
    )


@query(
    "events_transition_entropy",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    counts AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY 1, 2
    ),
    per AS (
      SELECT from_type,
             CAST(sum(c) AS BIGINT) AS c_from,
             CAST(count(*) AS BIGINT) AS n_successors,
             CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000)
                               AS BIGINT)) AS BIGINT) AS s_in
      FROM counts GROUP BY 1
    ),
    h AS (
      SELECT from_type, c_from, n_successors,
             (c_from * CAST(round(ln(CAST(c_from AS DOUBLE)) * 1000000)
                            AS BIGINT) - s_in) // c_from
               AS h_given_from_micro,
             c_from * CAST(round(ln(CAST(c_from AS DOUBLE)) * 1000000)
                           AS BIGINT) - s_in AS hnum
      FROM per
    ),
    ov AS (
      SELECT CAST(sum(c_from) AS BIGINT) AS n_transitions,
             CAST(sum(hnum) // sum(c_from) AS BIGINT) AS rate_micro_nats
      FROM h
    )
    SELECT h.from_type, h.c_from, h.n_successors,
           CAST(h.h_given_from_micro AS BIGINT) AS h_given_from_micro,
           o.n_transitions, o.rate_micro_nats
    FROM h, ov o
    ORDER BY h.from_type
    """,
)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL ENTROPY RATE of the first-order Markov chain over
    per-user event sequences (Shannon 1948, eq. for H(X_{t+1}|X_t) with
    the empirical state distribution) — the PREDICTABILITY number on
    top of events_transition_matrix: the matrix says where users go,
    this says how many effective nats of surprise the next step carries
    overall and per current state (≈0: deterministic funnels; ≈ln k:
    uniform wandering — the signal that decides whether a sequence
    model is worth training on this stream). Identity used:
    H(next|cur) = (Σ_f c_f·ln c_f − Σ_{f,t} c_{ft}·ln c_{ft}) / N — so
    with the repo's micro-nat device (every ln rounds to an integer
    micro-nat BEFORE any summation, the source_token_entropy contract)
    the whole computation is exact integer arithmetic with truncating
    division on positive operands; no per-cell probability is ever
    materialized as a float. Emits per-state rows (c_from, successor
    fan-out, H(next|from) micro-nats) plus the broadcast overall rate.
    Grain: one user-partition window (the attested transition-matrix
    shuffle), then a |types|²-row aggregate — 25 cells here, type-grain
    at any corpus size. Randomized second opinion: the integer-identity
    pipeline vs a float -Σp·ln p mirror within micro-rounding error, in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.operators.temporal import event_transitions

    ev = load_table(spark, "events", sf_dir)
    counts = event_transitions(ev).select(
        "from_type", "to_type", F.col("n_transitions").alias("c")
    )
    ln_micro = lambda col: F.round(  # noqa: E731 — shared micro-nat device
        F.log(col.cast("double")) * 1000000
    ).cast("long")
    per = counts.groupBy("from_type").agg(
        F.sum("c").cast("long").alias("c_from"),
        F.count(F.lit(1)).cast("long").alias("n_successors"),
        F.sum(F.col("c") * ln_micro(F.col("c"))).cast("long").alias("s_in"),
    )
    h = per.select(
        "from_type",
        "c_from",
        "n_successors",
        (F.col("c_from") * ln_micro(F.col("c_from")) - F.col("s_in")).alias(
            "hnum"
        ),
    ).localCheckpoint(eager=True)  # state grain (5 rows); rows + overall
    ov = h.agg(
        F.sum("c_from").cast("long").alias("n_transitions"),
        F.expr("sum(hnum) div sum(c_from)").alias("rate_micro_nats"),
    )
    return (
        h.crossJoin(F.broadcast(ov))  # broadcast 1-row overall rate
        .select(
            "from_type",
            "c_from",
            "n_successors",
            F.expr("hnum div c_from").alias("h_given_from_micro"),
            "n_transitions",
            "rate_micro_nats",
        )
        .orderBy("from_type")
    )


@query(
    "reliability_cronbach_alpha",
    oracle="""
    WITH grid AS (
      SELECT t.event_type, d.d
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT DISTINCT date_trunc('day', ts) AS d FROM events) d
    ),
    cell AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT g.event_type, g.d, COALESCE(c.x, 0) AS x
      FROM grid g LEFT JOIN cell c
        ON c.event_type = g.event_type AND c.d = g.d
    ),
    item AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(count(*) * sum(CAST(x AS HUGEINT) * x)
                  - CAST(sum(x) AS HUGEINT) * sum(x) AS HUGEINT) AS v
      FROM daily GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) * sum(CAST(s AS HUGEINT) * s)
                  - CAST(sum(s) AS HUGEINT) * sum(s) AS HUGEINT) AS v_tot
      FROM (SELECT d, CAST(sum(x) AS BIGINT) AS s FROM daily GROUP BY 1)
    ),
    ov AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(v) AS HUGEINT) AS sum_item_var
      FROM item
    )
    SELECT i.event_type, i.n_days, CAST(i.v AS BIGINT) AS var_num,
           CAST(o.sum_item_var AS BIGINT) AS sum_item_var,
           CAST(t.v_tot AS BIGINT) AS total_var_num, o.k,
           round(CAST(o.k * (t.v_tot - o.sum_item_var) AS DOUBLE)
                 / CAST((o.k - 1) * t.v_tot AS DOUBLE), 6) + 0.0 AS alpha
    FROM item i, tot t, ov o
    WHERE o.k > 1 AND t.v_tot > 0
    ORDER BY i.event_type
    """,
)
def reliability_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRONBACH'S ALPHA over the five event-type daily revenue series
    (Cronbach 1951) — internal-consistency reliability: do the five
    revenue streams move together day to day (α → 1: one underlying
    daily demand factor; α ≤ 0: streams fire independently), the
    decide-before-aggregating check for any composite daily KPI and the
    covariance-structure companion of events_lead_lag_correlation.
    Exact integers end to end: the day×type matrix is completed
    explicitly (grid LEFT JOIN, absent cells = 0 — dropping them would
    silently shrink the day frame and bias every variance), all
    variances in the n²-cleared form n·Σx² − (Σx)² (HUGEINT/decimal-38;
    the same scale for items and total, so the n² cancels in the
    ratio), and α = k·(V_tot − ΣV_i) / ((k−1)·V_tot) as ONE double
    division of exact integers + 6dp round (α can be negative — the
    signed-proper-fraction treatment from rater_agreement_kappa).
    Degenerate totals filter on the exact V_tot. Grain: one
    map-side-combinable day×type aggregate, then item grain (5 rows).
    Randomized second opinion: the cleared integer form vs the textbook
    k/(k−1)·(1 − Σσ²ᵢ/σ²_tot) in exact Fractions, plus the
    split-half-consistency sanity that α = 1 exactly when items are
    identical, in tests/test_randomized_references.py."""
    ev = load_table(spark, "events", sf_dir)
    cell = (
        ev.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("_c").cast("long").alias("x"))
        .localCheckpoint(eager=True)  # day×type grain; grid sides + cells
    )
    grid = (
        cell.select("event_type")
        .distinct()
        .crossJoin(cell.select("d").distinct())  # 5×30 grid, bounded
    )
    daily = grid.join(cell, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    ).localCheckpoint(eager=True)  # completed matrix; items + day totals
    item = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.count(F.lit(1)).cast("decimal(38,0)")
            * F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
            - F.sum("x").cast("decimal(38,0)") * F.sum("x")
        )
        .cast("decimal(38,0)")
        .alias("v"),
    )
    tot = (
        daily.groupBy("d")
        .agg(F.sum("x").cast("long").alias("s"))
        .agg(
            (
                F.count(F.lit(1)).cast("decimal(38,0)")
                * F.sum(F.col("s").cast("decimal(38,0)") * F.col("s"))
                - F.sum("s").cast("decimal(38,0)") * F.sum("s")
            )
            .cast("decimal(38,0)")
            .alias("v_tot")
        )
    )
    ov = item.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("v").cast("decimal(38,0)").alias("sum_item_var"),
    )
    return (
        item.crossJoin(F.broadcast(tot))  # broadcast 1-row total variance
        .crossJoin(F.broadcast(ov))  # broadcast 1-row item summary
        .filter((F.col("k") > 1) & (F.col("v_tot") > 0))
        .select(
            "event_type",
            "n_days",
            F.col("v").cast("long").alias("var_num"),
            F.col("sum_item_var").cast("long").alias("sum_item_var"),
            F.col("v_tot").cast("long").alias("total_var_num"),
            "k",
            (
                F.round(
                    (F.col("k") * (F.col("v_tot") - F.col("sum_item_var")))
                    .cast("double")
                    / ((F.col("k") - 1) * F.col("v_tot")).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("alpha"),
        )
        .orderBy("event_type")
    )


@query(
    "mcnemar_rater_bias",
    oracle=f"""
    WITH {_DUCK_RATER_M.strip()},
    m AS (
      SELECT mwl >= {RATER_MWL_MILLI_THRESHOLD} AS ra,
             ttr >= {RATER_TTR_PPM_THRESHOLD} AS rb
      FROM rater_m
    ),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT)
               AS n10,
             CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT)
               AS n01
      FROM m
    )
    SELECT n AS n_docs, n10, n01,
           CAST(n10 + n01 AS BIGINT) AS n_discordant,
           round(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                 / (n10 + n01), 6) + 0.0 AS chi2,
           round(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
                      AS DOUBLE) / (n10 + n01), 6) + 0.0 AS chi2_corrected,
           (CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01)
              > 3.841459) AS significant
    FROM c WHERE n10 + n01 > 0
    """,
)
def mcnemar_rater_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST between the two document-quality raters (McNemar
    1947; Edwards 1948 continuity correction) — the MARGINAL-HOMOGENEITY
    companion of rater_agreement_kappa: kappa asks 'do the raters
    agree', this asks 'is one rater systematically STRICTER' — the two
    questions are independent (raters can agree 95% yet one always
    flips the same direction on the disagreements, which silently
    shifts the accept rate when you swap raters; only the discordant
    cells n10/n01 carry that signal). Same byte-identical rater pair
    as the kappa gate (mean-word-length ≥ 4500 milli vs type-token
    ≥ 450000 ppm), so a rater drift fails both gates by name. Exact
    integers: the discordant cells are exact counts and
    χ² = (n10 − n01)²/(n10 + n01) is ONE double division of exact
    integers (+ the Edwards-corrected variant as a second column);
    significance at the χ²(1, .05) = 3.841459 literal on the identical
    double. Zero-discordant corpora filter on the exact integer sum.
    Map-only + one 1-row aggregate: scan speed at 100 TB. Randomized
    second opinion: χ² equals the exact-binomial z² form
    (n10 − n01)²/(n10 + n01) derived from the sign-test statistic, and
    swapping raters must negate the bias but fix χ², in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import rater_raw_cols

    docs = load_table(spark, "documents", sf_dir)
    m = docs.select(*rater_raw_cols("text")).select(
        (F.expr("_sl div _nt") >= RATER_MWL_MILLI_THRESHOLD).alias("ra"),
        (F.expr("_td div _nt") >= RATER_TTR_PPM_THRESHOLD).alias("rb"),
    )
    c = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when(~F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
    )
    diff = F.col("n10") - F.col("n01")
    den = (F.col("n10") + F.col("n01")).cast("double")
    chi2 = (diff * diff).cast("double") / den
    chi2c = (
        (F.abs(diff) - 1) * (F.abs(diff) - 1)
    ).cast("double") / den
    return c.filter(F.col("n10") + F.col("n01") > 0).select(
        F.col("n").alias("n_docs"),
        "n10",
        "n01",
        (F.col("n10") + F.col("n01")).cast("long").alias("n_discordant"),
        (F.round(chi2, 6) + F.lit(0.0)).alias("chi2"),
        (F.round(chi2c, 6) + F.lit(0.0)).alias("chi2_corrected"),
        (chi2 > 3.841459).alias("significant"),
    )


@query(
    "runs_test_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    diffs AS (
      SELECT event_type, d,
             x - lag(x) OVER (PARTITION BY event_type ORDER BY d) AS df
      FROM daily
    ),
    signs AS (
      SELECT event_type, d, CASE WHEN df > 0 THEN 1 ELSE -1 END AS s
      FROM diffs WHERE df IS NOT NULL AND df <> 0
    ),
    runs AS (
      SELECT event_type, s,
             CASE WHEN s <> lag(s) OVER (PARTITION BY event_type ORDER BY d)
                       OR lag(s) OVER (PARTITION BY event_type ORDER BY d)
                          IS NULL
                  THEN 1 ELSE 0 END AS new_run
      FROM signs
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(new_run) AS BIGINT) AS n_runs,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
             CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
      FROM runs GROUP BY 1
    ),
    m AS (
      SELECT event_type, n_runs, n_up, n_down, n_up + n_down AS n,
             2 * n_up * n_down AS p2
      FROM agg WHERE n_up > 0 AND n_down > 0
    )
    SELECT event_type, n_runs, n_up, n_down,
           CAST(n AS BIGINT) AS n_signs,
           round((CAST(n * (n - 1) * (n_runs * n - p2 - n) AS DOUBLE))
                 / (CAST(n AS DOUBLE) * sqrt(CAST(p2 * (p2 - n) * (n - 1)
                                                  AS DOUBLE))), 6) + 0.0
             AS z_stat
    FROM m WHERE p2 * (p2 - n) * (n - 1) > 0
    ORDER BY event_type
    """,
)
def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST on the signs of day-over-day revenue
    changes per event type (Wald & Wolfowitz 1940) — the RANDOMNESS
    member of the trend family: mann_kendall asks 'is there a monotone
    trend', this asks 'is the up/down sequence random at all' (too FEW
    runs = regime persistence/clustering, too MANY = oscillation — both
    invisible to rank statistics). Exact-integer discipline: integer
    cent diffs, zero-diff drop, run starts counted by one lag compare
    (the gaps-and-islands device), and the z-score in a fully CLEARED
    form — with p2 = 2·n⁺n⁻, E[R] = p2/n + 1 and Var·n²(n−1) =
    p2(p2−n), so z = n(n−1)(R·n − p2 − n) / (n·√(p2(p2−n)(n−1))) keeps
    every sub-expression an exact integer until one sqrt, one product,
    one division, one 6dp round. One-sided series (all-up/all-down)
    filter on the exact integers. Day×type grain throughout (the
    mann_kendall posture). Randomized second opinion: run counting vs
    an itertools.groupby mirror and the cleared z vs the textbook
    (R − μ)/σ float form in tests/test_randomized_references.py."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("_c").cast("long").alias("x"))
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    signs = (
        daily.withColumn("df", F.col("x") - F.lag("x").over(wd))
        .filter(F.col("df").isNotNull() & (F.col("df") != 0))
        .select(
            "event_type",
            "d",
            F.when(F.col("df") > 0, 1).otherwise(-1).alias("s"),
        )
    )
    runs = signs.withColumn(
        "new_run",
        F.when(
            F.lag("s").over(wd).isNull()
            | (F.col("s") != F.lag("s").over(wd)),
            1,
        ).otherwise(0),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("new_run").cast("long").alias("n_runs"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    )
    m = agg.filter((F.col("n_up") > 0) & (F.col("n_down") > 0)).select(
        "*",
        (F.col("n_up") + F.col("n_down")).alias("n"),
        (2 * F.col("n_up") * F.col("n_down")).alias("p2"),
    )
    num = (
        F.col("n")
        * (F.col("n") - 1)
        * (F.col("n_runs") * F.col("n") - F.col("p2") - F.col("n"))
    ).cast("double")
    den = F.col("n").cast("double") * F.sqrt(
        (F.col("p2") * (F.col("p2") - F.col("n")) * (F.col("n") - 1)).cast(
            "double"
        )
    )
    return (
        m.filter(
            F.col("p2") * (F.col("p2") - F.col("n")) * (F.col("n") - 1) > 0
        )
        .select(
            "event_type",
            "n_runs",
            "n_up",
            "n_down",
            F.col("n").cast("long").alias("n_signs"),
            (F.round(num / den, 6) + F.lit(0.0)).alias("z_stat"),
        )
        .orderBy("event_type")
    )


# SPRT constants, computed ONCE and inlined into BOTH engines (the
# micro-nat discipline): log-likelihood-ratio increments for H0 p=0.20 vs
# H1 p=0.25 (the probed event-type share is ~0.20 at every scale, so the
# audit genuinely discriminates), Wald thresholds at alpha = beta = 0.05.
_SPRT_P0, _SPRT_P1 = 0.20, 0.25
_SPRT_A_MICRO = round(1e6 * _pg_math.log(_SPRT_P1 / _SPRT_P0))  # hit term
_SPRT_B_MICRO = round(
    1e6 * _pg_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
)  # miss term
_SPRT_UPPER_MICRO = round(1e6 * _pg_math.log(0.95 / 0.05))
_SPRT_LOWER_MICRO = round(1e6 * _pg_math.log(0.05 / 0.95))


@query(
    "events_sprt_audit",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1
      FROM events GROUP BY 1
    ),
    llr AS (
      SELECT strftime(d, '%Y-%m-%d') AS day, n, n1,
             CAST(sum(n1 * {_SPRT_A_MICRO}
                      + (n - n1) * ({_SPRT_B_MICRO}))
                  OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS llr_cum_micro
      FROM daily
    ),
    dec AS (
      SELECT day, n, n1, llr_cum_micro,
             CASE WHEN llr_cum_micro >= {_SPRT_UPPER_MICRO} THEN 'accept_h1'
                  WHEN llr_cum_micro <= {_SPRT_LOWER_MICRO} THEN 'accept_h0'
                  ELSE 'continue' END AS decision
      FROM llr
    ),
    first_dec AS (
      SELECT coalesce(min(day), 'none') AS first_decision_day
      FROM dec WHERE decision <> 'continue'
    )
    SELECT d.day, d.n AS n_events, d.n1 AS n_target, d.llr_cum_micro,
           d.decision, f.first_decision_day
    FROM dec d, first_dec f
    ORDER BY d.day
    """,
)
def events_sprt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD SEQUENTIAL PROBABILITY RATIO TEST audit over the daily
    purchase-share sequence (Wald 1945 — the optimal sequential test,
    the foundation of every 'stop the A/B early' procedure): cumulative
    log-likelihood ratio for H0 p=0.20 vs H1 p=0.25 with Wald
    boundaries ln((1−β)/α), ln(β/(1−α)) at α=β=0.05 — the audit trail a
    sequential-testing pipeline persists (day-by-day LLR, the decision
    state at each close, the first crossing day). Complements
    events_ab_test (fixed-horizon) with the SEQUENTIAL member of the
    testing family. Exact-integer micro-nat discipline: the per-event
    increments ln(p1/p0) and ln(q1/q0) are quantized ONCE in python and
    inlined into both engines (the periodogram/RBO constant play), so
    the cumulative LLR is an exact integer window sum — no float
    accumulates in engine order — and the boundary comparisons are
    integer-vs-integer (thresholds inlined the same way). Probed
    baseline: the true purchase share is ≈0.20 at every scale, so the
    trace genuinely discriminates (drifts toward H0). Day-grain
    everywhere after one map-side-combinable aggregate; the window runs
    over the bounded day series (the cusum posture). Randomized second
    opinion: the integer cumulative LLR vs a float per-definition
    walk + Wald's boundary-crossing semantics in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
            .alias("day"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            .alias("_hit"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_hit").cast("long").alias("n1"),
        )
    )
    wd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded day series: the cusum-gate global-window posture
    dec = daily.withColumn(
        "llr_cum_micro",
        F.sum(
            F.col("n1") * F.lit(_SPRT_A_MICRO)
            + (F.col("n") - F.col("n1")) * F.lit(_SPRT_B_MICRO)
        )
        .over(wd)
        .cast("long"),
    ).withColumn(
        "decision",
        F.when(F.col("llr_cum_micro") >= _SPRT_UPPER_MICRO, "accept_h1")
        .when(F.col("llr_cum_micro") <= _SPRT_LOWER_MICRO, "accept_h0")
        .otherwise("continue"),
    ).localCheckpoint(eager=True)  # day grain; trace + first crossing
    first_dec = dec.filter(F.col("decision") != "continue").agg(
        F.coalesce(F.min("day"), F.lit("none")).alias("first_decision_day")
    )
    return (
        dec.crossJoin(F.broadcast(first_dec))  # broadcast 1-row crossing
        .select(
            "day",
            F.col("n").alias("n_events"),
            F.col("n1").alias("n_target"),
            "llr_cum_micro",
            "decision",
            "first_decision_day",
        )
        .orderBy("day")
    )


# Holm step-down thresholds on the z scale, computed ONCE from the stdlib
# normal quantile and inlined into BOTH engines: for m = 5 families at
# alpha = 0.05, the rank-i threshold is z_{1 - alpha/(2(m-i+1))}.
_HOLM_M, _HOLM_ALPHA = 5, 0.05
_HOLM_Z = [
    __import__("statistics").NormalDist().inv_cdf(
        1 - _HOLM_ALPHA / (2 * (_HOLM_M - i + 1))
    )
    for i in range(1, _HOLM_M + 1)
]
_HOLM_Z_MICRO = [round(1e6 * z) for z in _HOLM_Z]
_HOLM_SQL_THR = ", ".join(
    f"({i + 1}, {z})" for i, z in enumerate(_HOLM_Z_MICRO)
)


@query(
    "multiple_testing_holm",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d
      GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj,
             CAST(sum(t) AS BIGINT) AS n
      FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
      GROUP BY 1
    ),
    z AS (
      SELECT s.event_type,
             CAST(round(((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                          WHEN s.s_stat < 0 THEN -1
                                          ELSE 0 END) * sqrt(18.0))
                        / sqrt(CAST(n * (n - 1) * (2 * n + 5) - t.tie_adj
                                    AS DOUBLE)) * 1000000) AS BIGINT)
               AS z_micro
      FROM s JOIN ties t USING (event_type)
      WHERE n * (n - 1) * (2 * n + 5) - t.tie_adj > 0
    ),
    ranked AS (
      SELECT event_type, z_micro,
             row_number() OVER (ORDER BY abs(z_micro) DESC, event_type ASC)
               AS rnk
      FROM z
    ),
    thr AS (SELECT * FROM (VALUES {_HOLM_SQL_THR}) AS t(rnk, thr_micro)),
    raw AS (
      SELECT r.event_type, r.z_micro, r.rnk, t.thr_micro,
             (abs(r.z_micro) >= t.thr_micro) AS raw_reject
      FROM ranked r JOIN thr t USING (rnk)
    )
    SELECT event_type, z_micro, CAST(rnk AS BIGINT) AS holm_rank,
           CAST(thr_micro AS BIGINT) AS threshold_micro, raw_reject,
           CAST(min(CASE WHEN raw_reject THEN 1 ELSE 0 END)
                OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS BOOLEAN)
             AS holm_reject
    FROM raw
    ORDER BY event_type
    """,
)
def multiple_testing_holm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLM STEP-DOWN multiple-testing correction over the five per-type
    Mann-Kendall trend tests (Holm 1979 — the uniformly-more-powerful
    replacement for Bonferroni every multi-metric dashboard needs: five
    simultaneous 'is this series trending' calls at family-wise
    α = 0.05): sort by significance, test rank i against α/(m−i+1),
    and STOP at the first failure — later hypotheses cannot be rejected
    no matter their own z (the step-down clause, implemented as a
    cumulative-min window over the rank order; a plain per-row
    threshold comparison is Hochberg-shaped and silently anti-
    conservative here). Works on the z SCALE to stay exact: p-ordering
    equals |z|-ordering (monotone), so the rank-i thresholds
    z_{1−α/(2(m−i+1))} are computed ONCE from the stdlib normal
    quantile (statistics.NormalDist — no scipy) and inlined as micro
    integers into both engines; the Mann-Kendall z is the attested
    mann_kendall_trend device quantized ONCE to micro, so every
    comparison is integer-vs-integer. Day-pair grain (the mann_kendall
    posture); the ranked frame is m = 5 rows. Randomized second
    opinion: the cumulative-min step-down vs a literal Holm loop and
    the p-scale/z-scale ordering equivalence, in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("_c").cast("long").alias("x"))
        .localCheckpoint(eager=True)  # day grain; pair join + tie counts
    )
    a = daily.select("event_type", F.col("d").alias("_da"), F.col("x").alias("_xa"))
    b = daily.select("event_type", F.col("d").alias("_db"), F.col("x").alias("_xb"))
    s = (
        a.join(b, "event_type")
        .filter(F.col("_db") > F.col("_da"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("_xb") > F.col("_xa"), 1)
                .when(F.col("_xb") < F.col("_xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie_adj"),
            F.sum("t").cast("long").alias("n"),
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_adj")
    )
    cc = F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1).otherwise(0)
    z = (
        s.join(ties, "event_type")
        .filter(var18 > 0)
        .select(
            "event_type",
            F.round(
                (F.col("s_stat") - cc)
                * F.sqrt(F.lit(18.0))
                / F.sqrt(var18.cast("double"))
                * 1000000
            )
            .cast("long")
            .alias("z_micro"),
        )
    )
    wr = Window.orderBy(F.abs(F.col("z_micro")).desc(), F.col("event_type").asc())
    ranked = z.withColumn("rnk", F.row_number().over(wr))
    thr = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(_HOLM_Z_MICRO)],
        "rnk INT, thr_micro LONG",
    )
    raw = ranked.join(F.broadcast(thr), "rnk").withColumn(
        "raw_reject", F.abs(F.col("z_micro")) >= F.col("thr_micro")
    )
    wp = Window.orderBy("rnk").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        raw.select(
            "event_type",
            "z_micro",
            F.col("rnk").cast("long").alias("holm_rank"),
            F.col("thr_micro").cast("long").alias("threshold_micro"),
            "raw_reject",
            (
                F.min(F.when(F.col("raw_reject"), 1).otherwise(0)).over(wp)
                == 1
            ).alias("holm_reject"),
        )
        .orderBy("event_type")
    )


@query(
    "chow_test_revenue_break",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d) - 1
                  AS BIGINT) AS t,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM daily
    ),
    seg AS (
      SELECT event_type, n,
             CASE WHEN t < n // 2 THEN 1 ELSE 2 END AS segment, t, y
      FROM idx
    ),
    mom AS (
      SELECT event_type, segment, CAST(count(*) AS HUGEINT) AS ns,
             CAST(sum(t) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(t * t) AS HUGEINT) AS sxx,
             CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM seg GROUP BY 1, 2
    ),
    pooledm AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS ns,
             CAST(sum(t) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(t * t) AS HUGEINT) AS sxx,
             CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM seg GROUP BY 1
    ),
    rss AS (
      SELECT event_type, segment,
             CAST((ns * syy - sy * sy) * (ns * sxx - sx * sx)
                  - (ns * sxy - sx * sy) * (ns * sxy - sx * sy) AS DOUBLE)
               / CAST(ns * (ns * sxx - sx * sx) AS DOUBLE) AS rss
      FROM mom WHERE ns * sxx - sx * sx > 0
    ),
    rssp AS (
      SELECT event_type, CAST(ns AS BIGINT) AS n,
             CAST((ns * syy - sy * sy) * (ns * sxx - sx * sx)
                  - (ns * sxy - sx * sy) * (ns * sxy - sx * sy) AS DOUBLE)
               / CAST(ns * (ns * sxx - sx * sx) AS DOUBLE) AS rss_pooled
      FROM pooledm WHERE ns * sxx - sx * sx > 0
    ),
    f AS (
      SELECT p.event_type, p.n, p.rss_pooled,
             r1.rss AS rss_1, r2.rss AS rss_2,
             ((p.rss_pooled - r1.rss - r2.rss) / 2)
               / ((r1.rss + r2.rss) / (p.n - 4)) AS f_stat
      FROM rssp p
      JOIN rss r1 ON r1.event_type = p.event_type AND r1.segment = 1
      JOIN rss r2 ON r2.event_type = p.event_type AND r2.segment = 2
      WHERE r1.rss + r2.rss > 0 AND p.n > 4
    )
    SELECT event_type, n AS n_days,
           round(rss_pooled, 3) + 0.0 AS rss_pooled,
           round(rss_1, 3) + 0.0 AS rss_seg1,
           round(rss_2, 3) + 0.0 AS rss_seg2,
           round(f_stat, 6) + 0.0 AS f_stat,
           (f_stat > 3.369016) AS break_significant
    FROM f ORDER BY event_type
    """,
)
def chow_test_revenue_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHOW STRUCTURAL-BREAK TEST at the series midpoint for the daily
    revenue regression per event type (Chow 1960, Econometrica) — the
    regression-diagnostics member the trend family was missing:
    theil_sen fits a robust slope, mann_kendall tests monotonicity;
    this asks whether ONE line even applies, or the series switched
    regimes mid-range (F = ((RSS_p − RSS₁ − RSS₂)/k) /
    ((RSS₁+RSS₂)/(n−2k)) with k = 2 params). Exactness contract,
    documented deviation: each RSS is the exact rational
    (Syy_c·Sxx_c − Sxy_c²)/(n·Sxx_c) over the n-cleared integer
    cross-moments (HUGEINT/decimal-38: Syy_c·Sxx_c ≈ 5e20 at this
    grain, int64-unsafe — checked), and the gate spends THREE double
    divisions (one per RSS) instead of the usual one; every operand of
    every division is an exact integer and the downstream F arithmetic
    is the identical IEEE expression on both engines, so cross-engine
    equality still holds bit-for-bit — the multi-division shape is what
    the statistic's algebra costs (clearing all three denominators
    through the F ratio would push past decimal-38). Significance at
    the F(2, 26, .05) = 3.369016 literal (df₂ = n−4 at the 30-day
    range; the literal is part of the gate's contract, not a quantile
    computation). Day grain throughout. Randomized second opinion: the
    cleared-moment RSS vs a least-squares residual loop, and F vs a
    float per-definition mirror, in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("_c").cast("long").alias("y"))
    )
    wt = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        (F.row_number().over(Window.partitionBy("event_type").orderBy("d")) - 1)
        .cast("long")
        .alias("t"),
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
    )
    seg = idx.select(
        "event_type",
        "n",
        F.when(F.col("t") < F.expr("n div 2"), 1).otherwise(2).alias("segment"),
        "t",
        "y",
    ).localCheckpoint(eager=True)  # day grain; segment + pooled moments

    def _moments(df: DataFrame, keys: list[str]) -> DataFrame:
        d38 = "decimal(38,0)"
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast(d38).alias("ns"),
            F.sum("t").cast(d38).alias("sx"),
            F.sum("y").cast(d38).alias("sy"),
            F.sum(F.col("t") * F.col("t")).cast(d38).alias("sxx"),
            F.sum(F.col("t").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
            F.sum(F.col("y").cast(d38) * F.col("y")).cast(d38).alias("syy"),
        )

    def _rss(df: DataFrame) -> Column:
        sxx_c = F.col("ns") * F.col("sxx") - F.col("sx") * F.col("sx")
        sxy_c = F.col("ns") * F.col("sxy") - F.col("sx") * F.col("sy")
        syy_c = F.col("ns") * F.col("syy") - F.col("sy") * F.col("sy")
        return (syy_c * sxx_c - sxy_c * sxy_c).cast("double") / (
            F.col("ns") * sxx_c
        ).cast("double")

    mom = _moments(seg, ["event_type", "segment"])
    sxx_c = F.col("ns") * F.col("sxx") - F.col("sx") * F.col("sx")
    rss = mom.filter(sxx_c > 0).select(
        "event_type", "segment", _rss(mom).alias("rss")
    )
    pooledm = _moments(seg, ["event_type"])
    rssp = pooledm.filter(sxx_c > 0).select(
        "event_type",
        F.col("ns").cast("long").alias("n"),
        _rss(pooledm).alias("rss_pooled"),
    )
    r1 = rss.filter(F.col("segment") == 1).select(
        "event_type", F.col("rss").alias("rss_1")
    )
    r2 = rss.filter(F.col("segment") == 2).select(
        "event_type", F.col("rss").alias("rss_2")
    )
    f = (
        rssp.join(F.broadcast(r1), "event_type")
        .join(F.broadcast(r2), "event_type")
        .filter((F.col("rss_1") + F.col("rss_2") > 0) & (F.col("n") > 4))
        .withColumn(
            "f_stat",
            ((F.col("rss_pooled") - F.col("rss_1") - F.col("rss_2")) / 2)
            / ((F.col("rss_1") + F.col("rss_2")) / (F.col("n") - 4)),
        )
    )
    return f.select(
        "event_type",
        F.col("n").alias("n_days"),
        (F.round("rss_pooled", 3) + F.lit(0.0)).alias("rss_pooled"),
        (F.round("rss_1", 3) + F.lit(0.0)).alias("rss_seg1"),
        (F.round("rss_2", 3) + F.lit(0.0)).alias("rss_seg2"),
        (F.round("f_stat", 6) + F.lit(0.0)).alias("f_stat"),
        (F.col("f_stat") > 3.369016).alias("break_significant"),
    ).orderBy("event_type")


@query(
    "training_order_interleave",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS hkey
      FROM documents
    ),
    intra AS (
      SELECT doc_id, source, hkey,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY hkey, doc_id) AS BIGINT) AS intra_rank
      FROM h
    ),
    srcs AS (
      SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT)
               AS sidx,
             CAST(count(*) OVER () AS BIGINT) AS n_sources
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT CAST((i.intra_rank - 1) * s.n_sources + s.sidx AS BIGINT)
             AS position,
           i.doc_id, i.source, i.intra_rank
    FROM intra i JOIN srcs s USING (source)
    ORDER BY position
    LIMIT 100
    """,
)
def training_order_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC SOURCE-INTERLEAVED training order (the
    round-robin-by-source epoch plan every mixture-trained LLM run
    needs: consecutive training batches must not be source-runs, or
    gradient noise correlates with the domain — the ORDER complement of
    domain_mixture_sample, which picks WHAT to include, and of
    curriculum_ordering, which orders by difficulty): position =
    (intra_rank − 1)·n_sources + source_index gives the exact
    round-robin — any prefix of length k·n_sources contains EXACTLY k
    documents of every source (the balance invariant the second opinion
    proves). Within-source order is the deterministic Knuth
    multiplicative hash (2654435761 mod 2³², the curriculum_ordering
    device — same exact int64 arithmetic both engines, no engine RNG),
    doc_id tie-break. All integers; the output is the first 100
    positions via TakeOrdered (limit-pushed — the full plan is never
    materialized, and at 100 TB the position column is a pure
    map-side expression once per-source ranks exist: one window per
    source partition, the natural partitioning of a sharded corpus).
    Randomized second opinion: prefix-balance invariant + bijectivity
    of the position formula in tests/test_randomized_references.py."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    h = docs.select(
        "doc_id",
        "source",
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296))
        .cast("long")
        .alias("hkey"),
    )
    wi = Window.partitionBy("source").orderBy("hkey", "doc_id")
    intra = h.withColumn("intra_rank", F.row_number().over(wi).cast("long"))
    srcs_base = docs.select("source").distinct()
    ws = Window.orderBy("source")  # source grain: bounded (20 rows)
    srcs = srcs_base.select(
        "source",
        (F.row_number().over(ws) - 1).cast("long").alias("sidx"),
    ).crossJoin(
        F.broadcast(srcs_base.agg(F.count(F.lit(1)).cast("long").alias("n_sources")))
    )
    return (
        intra.join(F.broadcast(srcs), "source")
        .select(
            ((F.col("intra_rank") - 1) * F.col("n_sources") + F.col("sidx"))
            .cast("long")
            .alias("position"),
            "doc_id",
            "source",
            "intra_rank",
        )
        .orderBy("position")
        .limit(100)
    )


@query(
    "quality_lift_curve",
    oracle=f"""
    WITH {_DUCK_RATER_M.strip()},
    m AS (
      SELECT mwl,
             CASE WHEN ttr >= {RATER_TTR_PPM_THRESHOLD} THEN 1 ELSE 0 END
               AS pos
      FROM rater_m
    ),
    v AS (
      SELECT mwl AS score_milli, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM m GROUP BY 1
    ),
    c AS (
      SELECT score_milli, n_docs, n_pos,
             CAST(sum(n_docs) OVER (ORDER BY score_milli DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
             CAST(sum(n_pos) OVER (ORDER BY score_milli DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
             CAST(sum(n_docs) OVER () AS BIGINT) AS total_docs,
             CAST(sum(n_pos) OVER () AS BIGINT) AS total_pos
      FROM v
    )
    SELECT score_milli, n_docs, n_pos, cum_docs, cum_pos,
           CAST(1000000 * cum_pos // cum_docs AS BIGINT) AS precision_ppm,
           CAST(1000000 * cum_pos // total_pos AS BIGINT) AS recall_ppm,
           CAST(1000 * cum_pos * total_docs // (cum_docs * total_pos)
                AS BIGINT) AS lift_milli
    FROM c WHERE total_pos > 0
    ORDER BY score_milli DESC
    """,
)
def quality_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE LIFT / PRECISION-RECALL OPERATING TABLE for the
    quality score (the deployment-facing complement of
    quality_signal_auc: AUC is one scalar, this is the table an
    operator reads to PICK the threshold — 'accept everything scoring
    ≥ v' → what precision, what recall, what lift over random): sweep
    the mean-word-length score from the top, at each distinct value
    emit cumulative positives (the rater-B diversity label, shared
    rater_raw_cols signals), precision/recall in exact ppm and lift =
    (cum_pos/cum_docs)/(P/N) in the cleared integer form
    1000·cum_pos·N div (cum_docs·P) — no rate is ever a float. The
    sweep runs at SCORE-VALUE grain (the dedup_threshold_curve /
    mann_whitney device) via the STITCHED two-level scan
    (operators/stitched.py, r12) on the NEGATED score — descending
    order is ascending order of −score, and the negation keeps the
    bucket map monotone; only the domain/4096 bucket-carry frame stays
    single-partition, guarded by name. Corpus totals come from a 1-row
    broadcast aggregate (the r11 form's unbounded-following global
    window was a second single-partition pass — gone). One map-side
    corpus pass; everything after is value-grain. The DuckDB oracle
    keeps the textbook global-window sweep, re-proving the scan every
    round. Randomized second opinion: lift/precision/recall identities
    (lift·P·cum_docs == 1000·N·cum_pos under exact division, recall
    monotone, precision at full depth == base rate) in
    tests/test_randomized_references.py."""
    from pdf_brain_spark.functions.text import rater_raw_cols
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    docs = load_table(spark, "documents", sf_dir)
    m = docs.select(*rater_raw_cols("text")).select(
        F.expr("_sl div _nt").alias("score_milli"),
        F.when(F.expr("_td div _nt") >= RATER_TTR_PPM_THRESHOLD, 1)
        .otherwise(0)
        .alias("pos"),
    )
    v = m.groupBy("score_milli").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    tot = v.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.sum("n_pos").cast("long").alias("total_pos"),
    )
    c = (
        stitched_prefix_sums(
            v.withColumn("_neg", -F.col("score_milli")),
            "_neg",
            ["n_docs", "n_pos"],
            what="quality-lift distinct-score axis",
        )
        .select(
            "score_milli",
            "n_docs",
            "n_pos",
            F.col("n_docs_cum").cast("long").alias("cum_docs"),
            F.col("n_pos_cum").cast("long").alias("cum_pos"),
        )
        .crossJoin(F.broadcast(tot))  # broadcast 1-row corpus totals
    )
    return (
        c.filter(F.col("total_pos") > 0)
        .select(
            "score_milli",
            "n_docs",
            "n_pos",
            "cum_docs",
            "cum_pos",
            F.expr("(1000000 * cum_pos) div cum_docs").alias("precision_ppm"),
            F.expr("(1000000 * cum_pos) div total_pos").alias("recall_ppm"),
            F.expr(
                "(1000 * cum_pos * total_docs) div (cum_docs * total_pos)"
            ).alias("lift_milli"),
        )
        .orderBy(F.col("score_milli").desc())
    )


@query(
    "taxonomy_resnik_lin",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT o_orderkey AS node, o_orderkey AS ancestor, 0 AS depth
      FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 64
      UNION
      SELECT a.node, a.ancestor // 2, a.depth + 1
      FROM anc a WHERE a.ancestor > 1
    ),
    sz AS (
      SELECT ancestor AS node, CAST(count(*) AS BIGINT) AS subtree
      FROM anc GROUP BY 1
    ),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sz),
    ic AS (
      SELECT s.node,
             CAST(round(ln(CAST(t.n AS DOUBLE)) * 1000000) AS BIGINT)
               - CAST(round(ln(CAST(s.subtree AS DOUBLE)) * 1000000)
                      AS BIGINT) AS ic_micro
      FROM sz s, nt t
    ),
    pairs AS (
      SELECT a.o_orderkey AS a, b.o_orderkey AS b
      FROM orders a JOIN orders b ON a.o_orderkey < b.o_orderkey
      WHERE a.o_orderkey >= 2 AND a.o_orderkey <= 64
        AND b.o_orderkey >= 2 AND b.o_orderkey <= 64
    ),
    common AS (
      SELECT p.a, p.b, ca.ancestor AS lca_cand,
             ca.depth AS da, cb.depth AS db
      FROM pairs p
      JOIN anc ca ON ca.node = p.a
      JOIN anc cb ON cb.node = p.b AND cb.ancestor = ca.ancestor
    ),
    lca AS (
      SELECT a, b, lca_cand AS lca FROM (
        SELECT a, b, lca_cand,
               row_number() OVER (PARTITION BY a, b
                 ORDER BY da + db ASC, lca_cand ASC) AS rn
        FROM common) WHERE rn = 1
    )
    SELECT l.a, l.b, l.lca, il.ic_micro AS resnik_micro,
           CAST(2000 * il.ic_micro // (ia.ic_micro + ib.ic_micro)
                AS BIGINT) AS lin_milli
    FROM lca l
    JOIN ic il ON il.node = l.lca
    JOIN ic ia ON ia.node = l.a
    JOIN ic ib ON ib.node = l.b
    WHERE ia.ic_micro + ib.ic_micro > 0
    ORDER BY l.a, l.b
    """,
)
def taxonomy_resnik_lin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESNIK + LIN information-content similarity over the taxonomy
    closure (Resnik 1995, IJCAI; Lin 1998, ICML) — completing the
    concept-similarity family with the IC-weighted variants next to
    taxonomy_lca_similarity's purely structural Wu-Palmer: two concepts
    sharing a RARE ancestor are closer than two sharing a generic one
    at the same depth, which is exactly what tag/concept dedup wants
    (Wu-Palmer can't tell 'both under root' from 'both under a tiny
    subtree at the same level'). IC(c) = ln(N/subtree(c)) with the
    subtree sizes counted straight off the same closure the LCA uses
    (closure self-rows make count-per-ancestor = subtree-incl-self),
    and ln quantized ONCE per node to integer micro-nats (the
    source_token_entropy device — the difference of two pre-rounded
    lns is deterministic on both engines); Resnik = IC(lca) in
    micro-nats, Lin = 2·IC(lca)/(IC(a)+IC(b)) by one truncating milli
    division. The zero-IC guard drops only pairs of root-spanning
    trees (deterministic integer filter). Bounded: the same C(63,2)
    pair frame and ≤65×7 closure as the LCA gate — dimension grain
    end to end. Randomized second opinion: pipeline vs a float
    per-definition mirror on the binary tree + the Resnik/Lin
    monotonicity relations, in tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.operators.taxonomy import transitive_ancestors

    orders = load_table(spark, "orders", sf_dir)
    keys = (
        orders.filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") <= 64))
        .select(F.col("o_orderkey").cast("long").alias("node"))
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=True)  # 64 keys; edges + self rows + pairs
    )
    edges = keys.filter(F.col("node") > 1).select(
        "node", F.floor(F.col("node") / 2).cast("long").alias("parent")
    )
    anc = (
        transitive_ancestors(edges, edges, acyclic=True)
        .select("node", "ancestor", "depth")
        .unionByName(
            keys.select(
                "node",
                F.col("node").alias("ancestor"),
                F.lit(0).alias("depth"),
            )
        )
        .localCheckpoint(eager=True)  # ≤ 65×7 rows; sizes + pair sides
    )
    sz = anc.groupBy(F.col("ancestor").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("subtree")
    )
    nt = sz.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ln_micro = lambda col: F.round(  # noqa: E731 — shared micro-nat device
        F.log(col.cast("double")) * 1000000
    ).cast("long")
    ic = (
        sz.crossJoin(F.broadcast(nt))  # broadcast 1-row node count
        .select(
            "node",
            (ln_micro(F.col("n")) - ln_micro(F.col("subtree"))).alias(
                "ic_micro"
            ),
        )
        .localCheckpoint(eager=True)  # node grain; three join consumers
    )
    a = keys.filter(F.col("node") >= 2).select(F.col("node").alias("a"))
    b = keys.filter(F.col("node") >= 2).select(F.col("node").alias("b"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("a") < F.col("b"))
    ca = anc.select(
        F.col("node").alias("a"), F.col("ancestor").alias("lca_cand"),
        F.col("depth").alias("da"),
    )
    cb = anc.select(
        F.col("node").alias("b"), F.col("ancestor").alias("lca_cand"),
        F.col("depth").alias("db"),
    )
    common = pairs.join(F.broadcast(ca), "a").join(
        F.broadcast(cb), ["b", "lca_cand"]
    )
    w = Window.partitionBy("a", "b").orderBy(
        (F.col("da") + F.col("db")).asc(), F.col("lca_cand").asc()
    )
    lca = (
        common.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("a", "b", F.col("lca_cand").alias("lca"))
    )
    return (
        lca.join(
            F.broadcast(ic.select(F.col("node").alias("lca"),
                                  F.col("ic_micro").alias("resnik_micro"))),
            "lca")
        .join(F.broadcast(ic.select(F.col("node").alias("a"),
                                    F.col("ic_micro").alias("_ica"))), "a")
        .join(F.broadcast(ic.select(F.col("node").alias("b"),
                                    F.col("ic_micro").alias("_icb"))), "b")
        .filter(F.col("_ica") + F.col("_icb") > 0)
        .select(
            "a",
            "b",
            "lca",
            "resnik_micro",
            F.expr("(2000 * resnik_micro) div (_ica + _icb)").alias(
                "lin_milli"
            ),
        )
        .orderBy("a", "b")
    )


@query(
    "sessions_little_law_audit",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid,
             ts
      FROM ordered
    ),
    iv AS (
      SELECT CAST(epoch_us(min(ts)) AS BIGINT) AS s,
             CAST(epoch_us(max(ts)) AS BIGINT) AS e
      FROM sess GROUP BY user_id, sid
    ),
    deltas AS (
      SELECT ts, CAST(SUM(d) AS BIGINT) AS delta FROM (
        SELECT s AS ts, 1 AS d FROM iv
        UNION ALL
        SELECT e AS ts, -1 AS d FROM iv
      ) GROUP BY ts
    ),
    sweep AS (
      SELECT ts, sum(delta) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING)
               AS run,
             lead(ts) OVER (ORDER BY ts) AS nxt
      FROM deltas
    ),
    area AS (
      SELECT CAST(sum(run * (nxt - ts)) AS BIGINT) AS area_us
      FROM sweep WHERE nxt IS NOT NULL
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sessions,
             CAST(sum(e - s) AS BIGINT) AS total_duration_us,
             CAST(max(e) - min(s) AS BIGINT) AS span_us
      FROM iv
    )
    SELECT t.n_sessions, t.total_duration_us, a.area_us,
           (a.area_us = t.total_duration_us) AS identity_ok,
           t.span_us,
           CAST(1000000 * a.area_us // t.span_us AS BIGINT) AS l_avg_micro,
           CAST(a.area_us // t.n_sessions AS BIGINT) AS w_avg_us
    FROM tot t, area a
    WHERE t.span_us > 0 AND t.n_sessions > 0
    """,
)
def sessions_little_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW audit over the sessionized event stream (Little
    1961; the finite-window form L·T = Σ durations is an EXACT
    deterministic identity, not an asymptotic law — the area under the
    concurrency step function equals the summed session durations by
    Fubini) — the queueing-theory consistency check every
    capacity-planning pipeline runs on its sessionizer: if the sweep
    area and the duration sum disagree, the interval bookkeeping is
    broken (double-counted boundaries, overlap at handoffs, clipped
    ends), which is exactly what the hash-compared identity_ok column
    pins TRUE. Devices: the attested 30-minute gaps-and-islands
    sessionizer (session_path_signatures' rule, byte-identical), the
    supplier_peak_inflight sweep (deltas PRE-AGGREGATED per instant so
    ties never order-depend; zero-duration sessions contribute +1/−1
    at one instant = 0 delta = 0 area, matching their 0 duration), and
    exact integer MICROSECONDS end to end (epoch_us/unix_micros — no
    float time anywhere). The derived Little triple: L = area/span
    (micro), W = area/n (integer µs), both truncating divisions of
    exact integers.

    The sweep is PARTITION-AND-STITCH (the first IMPLEMENTED
    `safe_alternative` of the bounded_axis family — VERDICT r11 item 4;
    every other guarded global window documents this form, this gate
    ships it): boundary instants partition by UTC day, the running
    concurrency is an intra-day windowed prefix sum PLUS a carried-in
    concurrency from a DAY-GRAIN cumulative sum (calendar-bounded axis,
    bounded_axis-guarded), and the step width stitches across the day
    boundary by joining each day's successor's first instant. The
    stitched form is proven hash-identical to the single global window
    — cross-engine (the DuckDB oracle keeps the textbook global-window
    sweep) at all three scales, and intra-Spark in
    tests/test_temporal.py::test_little_law_stitched_sweep_equals_global.
    Sessionizer: operators/temporal.py::with_session_ids — the shared
    (ts, event_id)-ordered gaps-and-islands kernel (ADVICE r11: the
    cumulative sum must tie-break on event_id too, as the oracle does).
    Randomized second opinion: sweep-area == Σ durations on random
    interval sets incl. nested/disjoint/tied shapes, in
    tests/test_randomized_references.py."""
    from pyspark.sql import Window

    from pdf_brain_spark.functions.guards import bounded_axis
    from pdf_brain_spark.operators.temporal import with_session_ids

    ev = load_table(spark, "events", sf_dir)
    # shared sessionization kernel: exact-microsecond 30-min gap,
    # (ts, event_id) ordering on BOTH the lag and the cumulative sum
    sess = with_session_ids(ev, gap_seconds=1800)
    iv = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("s"),
            F.unix_micros(F.max("ts")).alias("e"),
        )
        .localCheckpoint(eager=True)  # session grain; sweep + totals
    )
    deltas = (
        iv.select(F.col("s").alias("ts"), F.lit(1).alias("d"))
        .unionAll(iv.select(F.col("e").alias("ts"), F.lit(-1).alias("d")))
        .groupBy("ts")
        .agg(F.sum("d").cast("long").alias("delta"))
        .withColumn("day", F.expr("ts div 86400000000"))
    )
    # intra-day pass: distributed windowed prefix sum + within-day lead
    wd = Window.partitionBy("day").orderBy("ts")
    intra = deltas.select(
        "day",
        "ts",
        F.sum("delta")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_day"),
        F.lead("ts").over(wd).alias("nxt_day"),
    )
    # stitch frame: ONE row per day (calendar-bounded axis) — carried-in
    # concurrency before each day + the successor day's first instant
    wdays = Window.orderBy("day")
    stitch = (
        deltas.groupBy("day")
        .agg(F.sum("delta").cast("long").alias("day_sum"),
             F.min("ts").alias("first_ts"))
        .select(
            "day",
            bounded_axis(
                F.coalesce(
                    F.sum("day_sum").over(
                        wdays.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ).cast("long"),
                ["day"],
                "Little's-law day-carry axis",
                safe_alternative="widen the stitch partition to months, "
                "or recursive-doubling over day ranges",
            ).alias("carry"),
            F.lead("first_ts").over(wdays).alias("next_day_first_ts"),
        )
    )
    sweep = intra.join(F.broadcast(stitch), "day").select(
        "ts",
        (F.col("carry") + F.col("cum_day")).alias("run"),
        F.coalesce(F.col("nxt_day"), F.col("next_day_first_ts")).alias("nxt"),
    )
    area = sweep.filter(F.col("nxt").isNotNull()).agg(
        F.sum(F.col("run") * (F.col("nxt") - F.col("ts")))
        .cast("long")
        .alias("area_us")
    )
    tot = iv.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("total_duration_us"),
        (F.max("e") - F.min("s")).cast("long").alias("span_us"),
    )
    return (
        tot.crossJoin(F.broadcast(area))  # broadcast 1-row sweep area
        .filter((F.col("span_us") > 0) & (F.col("n_sessions") > 0))
        .select(
            "n_sessions",
            "total_duration_us",
            "area_us",
            (F.col("area_us") == F.col("total_duration_us")).alias(
                "identity_ok"
            ),
            "span_us",
            F.expr("(1000000 * area_us) div span_us").alias("l_avg_micro"),
            F.expr("area_us div n_sessions").alias("w_avg_us"),
        )
    )


