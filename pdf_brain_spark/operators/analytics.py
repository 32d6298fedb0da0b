"""Corpus analytics — the reference's tag/keyword analysis scripts
re-expressed declaratively:

  * keyword scoring (AutoTagger.ts:463-495): tokenize → stopword filter →
    term frequency × dampening × length weight → top-N per doc.
  * tag/source distribution (scripts/analyze-tags.ts:25-171): per-value doc
    counts, coverage %, usage buckets (≥20% / 5-20% / 1-5% / <1%).
  * co-occurrence pairs (analyze-tags.ts pair counts): distinct values per
    doc self-joined with a < b, counted.
  * integrity anti-joins (LibSQLDatabase.ts:559-603 orphan repair): left_anti
    is the literal Spark primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdf_brain_spark.functions.text import LANG_STOPWORDS, tokenize

# the reference's stopword battery is ~100 English words
# (AutoTagger.ts:131-246); we use our EN set + common fillers
KEYWORD_STOPWORDS = LANG_STOPWORDS["en"] + [
    "on", "at", "by", "an", "be", "or", "as", "are", "was", "with", "this", "from",
]


def keyword_scores(
    docs: DataFrame,
    top_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-N keywords per document: tf × length dampening, stopwords out
    (AutoTagger.ts:463-495 shape: freq × min(1, len/4) weighting)."""
    toks = docs.select(F.col(id_col), F.explode(tokenize(text_col)).alias("word"))
    toks = toks.filter(~F.col("word").isin(KEYWORD_STOPWORDS) & (F.length("word") > 2))
    tf = toks.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    scored = tf.withColumn(
        "kw_score",
        F.round(F.col("tf") * F.least(F.length("word") / F.lit(4.0), F.lit(1.0)), 6),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("kw_score").desc(), F.col("word").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(id_col, "word", "kw_score", F.col("rn").alias("rank"))
    )


def value_distribution(
    docs: DataFrame, value_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Per-value doc counts + coverage % + the reference's usage buckets
    (analyze-tags.ts: ≥20% common / 5-20% moderate / 1-5% niche / <1% rare)."""
    total = docs.select(F.countDistinct(id_col).alias("n")).collect()[0]["n"]
    dist = docs.groupBy(value_col).agg(F.countDistinct(id_col).alias("n_docs"))
    pct = F.col("n_docs") * 100.0 / F.lit(float(total))
    return dist.select(
        value_col,
        "n_docs",
        F.round(pct, 6).alias("coverage_pct"),
        F.when(pct >= 20, "common")
        .when(pct >= 5, "moderate")
        .when(pct >= 1, "niche")
        .otherwise("rare")
        .alias("usage_bucket"),
    )


def cooccurrence_pairs(
    items: DataFrame, id_col: str, value_col: str, min_count: int = 2
) -> DataFrame:
    """Co-occurrence counts of distinct values within the same doc."""
    d = items.select(id_col, value_col).distinct()
    a = d.select(F.col(id_col), F.col(value_col).alias("value_a"))
    b = d.select(F.col(id_col), F.col(value_col).alias("value_b"))
    return (
        a.join(b, id_col)
        .filter(F.col("value_a") < F.col("value_b"))
        .groupBy("value_a", "value_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_count)
    )


def orphans(child: DataFrame, parent: DataFrame, key: str | list[str]) -> DataFrame:
    """Integrity repair: child rows with no parent (left_anti), the Spark
    literal of the reference's NOT EXISTS orphan scans."""
    keys = [key] if isinstance(key, str) else key
    return child.join(parent.select(*keys).distinct(), keys, "left_anti")


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Ordered-funnel analysis: how many users performed step 1, then
    step 2 AFTER it, then step 3 after that, and so on — the product-
    analytics staple a plain per-type count cannot answer (it ignores
    ordering). Greedy first-occurrence matching: a user reaches step k
    iff some step-k event occurs at a strictly LATER row (total order
    (ts, tiebreak) within the user) than a row that already reached
    step k−1.

    Scale shape: ONE shuffle, ever. The per-user running state is a
    stack of window functions over the same (user, ts, tiebreak) sort —
    `max(reached_{k-1}) OVER (... ROWS UNBOUNDED PRECEDING TO 1
    PRECEDING)` marks whether any earlier row reached the previous step,
    so k steps cost k window expressions over one sorted partition pass,
    not k self-joins. The per-user flag aggregate reuses the window's
    hash partitioning (no second exchange) and the final report is a
    |steps|-row scalar aggregate. Per-user state is O(1) — no
    collect_list of a hot user's history anywhere.

    Returns (step 1..k, step_name, n_users, conversion) where
    conversion = n_users(step) / n_users(step 1), rounded 6.
    """
    w_prec = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    df = events.select(user_col, type_col, ts_col, tiebreak_col)
    reach_flags = []
    prev = None
    for i, step in enumerate(steps):
        is_step = F.col(type_col) == F.lit(step)
        if i == 0:
            reached = F.when(is_step, 1).otherwise(0)
        else:
            seen_prev = F.coalesce(F.max(prev).over(w_prec), F.lit(0))
            reached = F.when(is_step & (seen_prev == 1), 1).otherwise(0)
        col = f"_r{i}"
        df = df.withColumn(col, reached)
        prev = F.col(col)
        reach_flags.append(col)
    per_user = df.groupBy(user_col).agg(
        *[F.max(c).alias(c) for c in reach_flags]
    )
    # Pure plan to the end: the |steps|-row report is inline() over an
    # array of struct literals built from the 1-row flag aggregate (no
    # driver action, no createDataFrame — and no SQL-string
    # interpolation, so arbitrary step names are safe), keeping the
    # operator lazily composable like every other report in the engine.
    totals = per_user.agg(
        *[F.coalesce(F.sum(c), F.lit(0)).alias(f"n{i}") for i, c in enumerate(reach_flags)]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step"),
                F.lit(steps[i]).alias("step_name"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i in range(len(steps))
        ]
    )
    return (
        totals.select(
            F.inline(rows),
            F.greatest(F.col("n0"), F.lit(1)).alias("_base"),
        )
        .select(
            F.col("step").cast("int"),
            "step_name",
            F.col("n_users").cast("bigint"),
            F.round(F.col("n_users") / F.col("_base"), 6).alias("conversion"),
        )
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int = 8,
) -> DataFrame:
    """Weekly cohort retention: users grouped by their FIRST active week
    (the cohort), counted in every later week they return — the matrix
    behind "week-2 retention is 34%". Two user-grain frames do all the
    work: distinct (user, week) activity (one fact-table aggregate —
    map-side distinct first, so the shuffle carries user-week pairs, not
    events) and per-user min week (same shuffle grain). Their join is
    user-grain × user-grain on the same key, and the final count is a
    (cohort, offset) aggregate over |active user-weeks| rows. The fact
    table is scanned once; nothing downstream exceeds user grain.

    Returns (cohort_week, week_offset 0..max_offset, n_users,
    retention = n_users / cohort size, rounded 6) — offset 0 rows carry
    the cohort sizes and retention 1.0 by construction.
    """
    week = F.date_trunc("week", F.col(ts_col))
    active = events.select(F.col(user_col), week.alias("week")).distinct()
    cohorts = active.groupBy(user_col).agg(F.min("week").alias("cohort_week"))
    # Calendar-wise offset (datediff in days / 7), NOT an epoch-seconds
    # diff: date_trunc('week') is wall-clock, so in a DST session timezone
    # a week spanning a transition is 604800±3600 s and the epoch formula
    # lands one off (floor((604800k − 3600)/604800) = k−1). Week starts
    # are always a whole number of calendar days apart, so this form is
    # timezone-immune.
    joined = active.join(cohorts, user_col).withColumn(
        "week_offset",
        F.floor(F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("int"),
    )
    counts = (
        joined.filter(F.col("week_offset") <= max_offset)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    sizes = counts.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("cohort_size")
    )
    return (
        counts.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            F.round(F.col("n_users") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF (raw term count ×
    (ln((1+N)/(1+df)) + 1), the sklearn-style smooth idf) — the document
    fingerprint / keyword surface a corpus pipeline uses for topic
    routing and near-dup triage at term level.

    Shape: one tokenize/explode pass feeds BOTH frequency aggregates
    (per-(doc, term) tf and per-term df — each a hash aggregate with
    map-side partials); their join re-shuffles the doc-term table on
    term (at 100 TB the vocabulary is fact-sized, so no broadcast —
    co-partition by term), and the corpus size attaches as a broadcast
    1-row aggregate, keeping the whole operator a lazy plan. Ranking
    orders by the 6-dp-ROUNDED score (then term asc) so selection at a
    score tie is engine-identical — the same determinism discipline as
    the MMR kernel.

    Returns (id_col, term, rank 1..k, tfidf rounded 6)."""
    from pyspark.sql.window import Window

    from pdf_brain_spark.functions.text import tokenize

    terms = docs.select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("n_td"))
    df_ = terms.groupBy("term").agg(F.count_distinct(F.col(id_col)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("n_td")
                * (F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "rank", "tfidf")
    )


def curation_weighted_sample(
    docs: DataFrame,
    novelty_k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup-aware corpus curation sampling — the composition a training
    pipeline actually runs: each document's sampling weight is
    novelty × quality (gram-level novelty from the duplicate-span
    machinery × the corpus-filter quality composite), and a document is
    kept iff its CONTENT-FREE deterministic hash draw falls under the
    weight. Boilerplate-heavy or low-quality docs are down-sampled
    smoothly instead of hard-dropped; the draw depends only on the doc
    id, so membership is reproducible row-locally (the same property the
    train/val/test split guarantees — a row's fate never depends on the
    rest of the corpus once its weight is computed).

    Determinism discipline: the weight is materialized as INTEGER
    micro-units (round(novelty × quality × 1e6)) and compared against
    the hash draw's residue mod 1e6 — an integer-vs-integer decision,
    so no float rounding mode can flip membership across engines. Docs
    too short to carry grams (novelty NULL) default to full novelty.

    Returns the kept docs: (id_col, novelty, quality, weight,
    draw) with weight/draw in [0, 1) at micro-unit resolution."""
    from pdf_brain_spark.functions.sql import Fragment, sql_ref
    from pdf_brain_spark.functions.text import md5_long, quality_score
    from pdf_brain_spark.operators.dedup import novelty_scores

    nov = novelty_scores(docs, k=novelty_k, id_col=id_col, text_col=text_col).select(
        id_col, "novelty"
    )
    q = quality_score(text_col)
    weighted = (
        docs.select(id_col, text_col)
        .join(nov, id_col)
        .withColumn("_nov", F.coalesce(F.col("novelty"), F.lit(1.0)))
        .withColumn(
            "_wi", F.round(F.col("_nov") * q * F.lit(1_000_000)).cast("long")
        )
        .withColumn(
            "_draw",
            md5_long(Fragment(f"CAST({sql_ref(id_col)} AS STRING)")) % F.lit(1_000_000),
        )
    )
    return (
        weighted.filter(F.col("_draw") < F.col("_wi"))
        .select(
            F.col(id_col),
            F.round(F.col("_nov"), 6).alias("novelty"),
            F.round(q, 6).alias("quality"),
            (F.col("_wi").cast("double") / F.lit(1_000_000.0)).alias("weight"),
            (F.col("_draw").cast("double") / F.lit(1_000_000.0)).alias("draw"),
        )
    )


def winsorized_value_stats(
    events: DataFrame,
    lo_pct: int = 1,
    hi_pct: int = 99,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-group winsorized statistics — the robust-scaling prep step a
    feature pipeline runs before normalization: values are clipped to
    the group's exact [p_lo, p_hi] band and the mean recomputed, so a
    handful of corrupted magnitudes can't dominate the scale.

    Everything derives from ONE fact-table aggregate: the cent-resolution
    histogram (group, cent bucket, count). Quantile bounds are type-1
    ranks over the cumulative histogram with the rank computed in
    INTEGER arithmetic ((q·n + 99) div 100 — no float-ceil boundary),
    and the winsorized mean is Σ clamp(bucket, lo, hi)·count over 100·n
    — an integer sum, so the result is bit-identical across engines and
    no second scan of the facts ever happens; all post-aggregate work is
    at |groups| × |distinct cents| grain.

    Returns (type_col, n_events, lo_value, hi_value, n_clipped_lo,
    n_clipped_hi, winsorized_mean rounded 6)."""
    hist = events.groupBy(
        F.col(type_col),
        F.round(F.col(value_col) * 100).cast("long").alias("_b"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    w = (
        Window.partitionBy(type_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_c", F.sum("_n").over(w))
    tot = hist.groupBy(type_col).agg(F.sum("_n").alias("_total"))
    ranked = cum.join(tot, type_col)
    lo_rank = F.floor((F.lit(lo_pct) * F.col("_total") + F.lit(99)) / F.lit(100))
    hi_rank = F.floor((F.lit(hi_pct) * F.col("_total") + F.lit(99)) / F.lit(100))
    bounds = ranked.groupBy(type_col).agg(
        F.min(F.when(F.col("_c") >= lo_rank, F.col("_b"))).alias("_lo"),
        F.min(F.when(F.col("_c") >= hi_rank, F.col("_b"))).alias("_hi"),
    )
    clipped = hist.join(bounds, type_col).withColumn(
        "_cb", F.greatest(F.col("_lo"), F.least(F.col("_hi"), F.col("_b")))
    )
    return (
        clipped.groupBy(type_col)
        .agg(
            F.sum("_n").alias("n_events"),
            F.round(F.first("_lo").cast("double") / F.lit(100.0), 2).alias("lo_value"),
            F.round(F.first("_hi").cast("double") / F.lit(100.0), 2).alias("hi_value"),
            F.sum(F.when(F.col("_b") < F.col("_lo"), F.col("_n")).otherwise(0)).alias(
                "n_clipped_lo"
            ),
            F.sum(F.when(F.col("_b") > F.col("_hi"), F.col("_n")).otherwise(0)).alias(
                "n_clipped_hi"
            ),
            F.round(
                F.sum(F.col("_cb") * F.col("_n")).cast("double")
                / (F.lit(100.0) * F.sum("_n")),
                6,
            ).alias("winsorized_mean"),
        )
    )


def funnel_conversion_windowed(
    events: DataFrame,
    steps: list[str],
    within_seconds: int,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Funnel with CONVERSION WINDOWS — the product-analytics refinement
    of `funnel_conversion`: a step-k event counts only if some earlier
    event that already reached step k−1 occurred within
    `within_seconds` before it (chained, so the whole journey is a
    sequence of bounded hops, not one unbounded lookback). Semantics
    stated precisely: reached_k(row) ⇔ row is a step-k event AND
    max{ts(r) : r earlier, reached_{k−1}(r)} ≥ ts(row) − within — the
    "any qualifying predecessor in the window" rule, which the SQL twin
    re-derives verbatim.

    Same ONE-shuffle shape as the unconstrained funnel: per step, one
    window expression over the same (user, ts, tiebreak) sort carries
    the latest predecessor timestamp (max of a flagged EXACT-MICROSECOND
    integer — the debounce lesson: no seconds-cast floor), so k steps
    are k window passes over one sorted partition, O(1) state per user.

    Returns (step 1..k, step_name, n_users, conversion rounded 6)."""
    w_prec = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col(ts_col))
    df = events.select(user_col, type_col, ts_col, tiebreak_col).withColumn("_us", us)
    within_us = within_seconds * 1_000_000
    reach_flags: list[str] = []
    prev = None
    for i, step in enumerate(steps):
        is_step = F.col(type_col) == F.lit(step)
        if i == 0:
            reached = F.when(is_step, 1).otherwise(0)
        else:
            prev_ts = F.max(
                F.when(F.col(prev) == 1, F.col("_us"))
            ).over(w_prec)
            reached = F.when(
                is_step & (prev_ts >= F.col("_us") - F.lit(within_us)), 1
            ).otherwise(0)
        col = f"_rw{i}"
        df = df.withColumn(col, reached)
        prev = col
        reach_flags.append(col)
    per_user = df.groupBy(user_col).agg(*[F.max(c).alias(c) for c in reach_flags])
    totals = per_user.agg(
        *[F.coalesce(F.sum(c), F.lit(0)).alias(f"n{i}") for i, c in enumerate(reach_flags)]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step"),
                F.lit(steps[i]).alias("step_name"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i in range(len(steps))
        ]
    )
    return (
        totals.select(
            F.inline(rows),
            F.greatest(F.col("n0"), F.lit(1)).alias("_base"),
        )
        .select(
            F.col("step").cast("int"),
            "step_name",
            F.col("n_users").cast("bigint"),
            F.round(F.col("n_users") / F.col("_base"), 6).alias("conversion"),
        )
    )


def column_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Data-quality column profile — per column: row count, NULL count,
    exact distinct count — the ingestion-gate summary a pipeline checks
    before accepting a new data drop (schema drift shows up as a NULL
    spike or a distinct-count collapse).

    Plan shape: UNPIVOT via a literal struct array + explode, then ONE
    groupBy on column name. Deliberately NOT `agg(countDistinct(c) for
    c in cols)` — multiple distinct aggregates in one Spark aggregate
    compile to an Expand that replicates every input row once per
    column ANYWAY, but through a single first-class operator whose
    exact-distinct shuffle is at (column, value) grain and combines
    map-side. Values compare as strings (injective for the int/string
    columns this profiles; floats would need a canonical format first).

    Returns (column_name, n_rows, n_nulls, n_distinct)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(c).cast("string").alias("value_str"),
            )
            for c in columns
        ]
    )
    exploded = df.select(F.explode(entries).alias("e")).select(
        "e.column_name", "e.value_str"
    )
    return exploded.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value_str").isNull(), 1).otherwise(0)).alias("n_nulls"),
        F.countDistinct("value_str").alias("n_distinct"),
    )


def pmi_pairs(
    docs: DataFrame,
    text_col: str = "text",
    min_pair: int = 5,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Pointwise mutual information of ADJACENT token bigrams —
    collocation/phrase mining (Church & Hanks 1990): which words follow
    each other more often than their marginals predict?
    pmi(a→b) = ln( (n_ab/B) / ((n_a/T)·(n_b/T)) ) with n_ab the bigram
    occurrence count, B total bigram slots (Σ len−1), n the unigram
    occurrence counts, T total tokens — all exact integers, one ln of
    their rational at the end, landed as integer micro-nats (the repo's
    engine-portable log encoding).

    Shape is linear in corpus size: bigram emission is len−1 per doc
    (consecutive-position zip, no pairing join), one map-side-combinable
    groupBy each for bigrams and unigrams, broadcast marginal joins, a
    2-scalar broadcast for (B, T). The output space is vocab² at most
    and the min_pair floor cuts the noise tail. Directional by design —
    pmi(a→b) ≠ pmi(b→a)."""
    # r16: materialize the token arrays ONCE — totals/uni/bi each
    # consumed `toks` before, so the corpus re-tokenized three times
    # (guide §2.4 shared pass). A spread_scan ahead of the chain was
    # A/B-measured at a net loss at bench scale (+0.35 s; tokenize-only
    # chain) and dropped — see OPTIMIZATION_r16.md. The checkpoint also
    # keeps the ≥2-token filter from being pushed into the scan-side
    # chain (where it would re-run tokenize).
    # 100 TB posture (VERDICT r16 item 7, deliberate): the checkpoint
    # holds the corpus's token arrays on executor storage
    # (memory-then-disk) for the life of the query — the price of 3
    # corpus passes → 1. On executor loss the lineage is gone and the
    # job fails-fast instead of recomputing; for a 100 TB deployment
    # prefer a reliable `spark.checkpoint` dir for this table. Not
    # conditioned like spread_scan: the pass-sharing is what matters at
    # every scale, and the storage cost is bounded by token bytes.
    # r17: callers that already hold a materialized token-array table
    # (the suite_term_stats shared pass) pass it as `toks` (column
    # `_t`); the ≥2-token filter is applied here either way.
    if toks is None:
        toks = docs.select(tokenize(text_col).alias("_t")).localCheckpoint(eager=True)
    else:
        toks = toks.select("_t")
    toks = toks.filter(F.size("_t") >= 2)
    totals = toks.agg(
        F.sum(F.size("_t")).alias("t_tokens"),
        F.sum(F.size("_t") - 1).alias("b_slots"),
    )
    uni = (
        toks.select(F.explode("_t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bi = (
        toks.select(
            F.explode(
                F.transform(
                    F.slice(F.col("_t"), 1, F.size("_t") - 1),
                    lambda x, i: F.struct(
                        x.alias("term_a"),
                        F.element_at(F.col("_t"), i + 2).alias("term_b"),
                    ),
                )
            ).alias("p")
        )
        .select("p.term_a", "p.term_b")
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair)
    )
    na = uni.select(F.col("term").alias("term_a"), F.col("n").alias("n_a"))
    nb = uni.select(F.col("term").alias("term_b"), F.col("n").alias("n_b"))
    return (
        bi.join(F.broadcast(na), "term_a")
        .join(F.broadcast(nb), "term_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "term_a",
            "term_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.log(
                    (
                        F.col("n_ab").cast("double")
                        * F.col("t_tokens")
                        * F.col("t_tokens")
                    )
                    / (
                        F.col("b_slots").cast("double")
                        * F.col("n_a")
                        * F.col("n_b")
                    )
                )
                * 1000000
            )
            .cast("long")
            .alias("pmi_micro_nats"),
        )
        .filter(F.col("pmi_micro_nats") > 0)
    )


def grouped_ols(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key ordinary-least-squares trend line from the five moment
    sums — slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept =
    (Σy − slope·Σx)/n — with the sums accumulated in decimal(38,0)
    (Spark) so they mirror DuckDB's HUGEINT exactly: integer inputs stay
    EXACT through every sum and the only floats are the two final
    divisions of identical integer operands. Degenerate keys (all x
    equal → zero denominator) return NULL slope/intercept rather than
    dividing by zero.

    One map-side-combinable groupBy — regression at 100 TB is an
    aggregate, not an iterative fit. Callers should pre-aggregate y to
    the x grain first (e.g. daily revenue) so the sums stay small and
    the per-key row count is the bounded time axis."""
    xd = F.col(x_col).cast("decimal(19,0)")
    yd = F.col(y_col).cast("decimal(19,0)")
    agg = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("_n"),
        F.sum(xd).alias("_sx"),
        F.sum(yd).alias("_sy"),
        F.sum(xd * xd).alias("_sxx"),
        F.sum(xd * yd).alias("_sxy"),
    )
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    den = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / F.col("_n").cast("double")
    return agg.select(
        key_col,
        F.col("_n").cast("long").alias("n_points"),
        F.when(den > 0, F.round(slope, 6)).alias("slope"),
        F.when(den > 0, F.round(intercept, 6)).alias("intercept"),
    )


def token_entropy(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Shannon entropy of the token distribution per group, in integer
    micro-nats: H = ln T − (1/T)·Σ n·ln n becomes
    round(ln(T)·1e6) − (Σ n·round(ln(n)·1e6)) DIV T — each ln is a
    single per-row evaluation rounded to an integer BEFORE the sum, so
    the cross-engine float-summation-order hazard never arises (the
    perplexity/surprisal gates' encoding). Low entropy flags template
    spam and mode-collapsed sources; the ln(vocab) ceiling gives the
    evenness ratio.

    Shape: one (group, term) groupBy then one group groupBy, both
    map-side-combinable; output is one row per group.

    ``counts``: optional pre-computed (group_col, term, n) occurrence
    table (r17 suite_term_stats shared pass) — must equal the groupBy
    below exactly; when given, the tokenize pass is skipped."""
    # r16 A/B: spread_scan here measured +0.25 s (0.67→0.92 warm min) —
    # reverted (tokenize-only chain; see OPTIMIZATION_r16.md).
    if counts is None:
        counts = (
            docs.select(F.col(group_col), F.explode(tokenize(text_col)).alias("term"))
            .groupBy(group_col, "term")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    ln_micro = F.round(F.log(F.col("n").cast("double")) * 1000000).cast("long")
    agg = counts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum(F.col("n") * ln_micro).cast("long").alias("_s"),
    )
    return agg.select(
        group_col,
        "n_terms",
        "total_tokens",
        (
            F.round(F.log(F.col("total_tokens").cast("double")) * 1000000).cast(
                "long"
            )
            - F.expr("_s DIV total_tokens")
        ).alias("entropy_micro_nats"),
    )


def grouped_gini(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Gini coefficient of an integer value distribution per key —
    G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over the ascending-sorted
    values — the inequality measure completing the concentration family
    (HHI says "how few own it", Pareto says "what the top k% own", Gini
    says "how unequal the whole curve is").

    The rank-weighted sum uses row_number over (value, tiebreak) — a
    total order, so Σ i·x_i is well-defined under ties (any tie order
    yields the same sum since tied values are equal) — and accumulates
    in decimal(38,0) mirroring DuckDB's HUGEINT. One window exchange on
    the key + one map-side-combinable groupBy; the only float is the
    final division of exact integers. G ∈ [0, 1−1/n]; NULL when Σx = 0."""
    w = Window.partitionBy(key_col).orderBy(
        F.col("_x").asc(), F.col("_tb").asc()
    )
    ranked = df.select(
        F.col(key_col),
        F.col(value_col).cast("decimal(19,0)").alias("_x"),
        F.monotonically_increasing_id().alias("_tb"),
    ).withColumn("_i", F.row_number().over(w).cast("decimal(19,0)"))
    agg = ranked.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_i") * F.col("_x")).alias("_six"),
    )
    num = (
        F.lit(2).cast("decimal(19,0)") * F.col("_six")
        - (F.col("_n") + F.lit(1)) * F.col("_sx")
    ).cast("double")
    den = (F.col("_n") * F.col("_sx")).cast("double")
    return agg.select(
        key_col,
        F.col("_n").cast("long").alias("n"),
        F.col("_sx").cast("long").alias("total"),
        F.when(den > 0, F.round(num / den, 6)).alias("gini"),
    )


def greedy_set_cover(
    membership: DataFrame,
    k: int = 5,
    set_col: str = "doc_id",
    elem_col: str = "term",
) -> list[tuple[int, int, int, int]]:
    """Greedy maximum-coverage selection (Nemhauser/Wolsey/Fisher 1978:
    the (1 - 1/e)-approximate greedy for submodular coverage) — the
    corpus-selection primitive "pick k documents that together cover the
    most vocabulary". Each of the (at most) k rounds is ONE aggregate
    over the membership table restricted to uncovered elements plus ONE
    TakeOrdered(1); the only driver-side state is the covered ELEMENT
    set (vocabulary grain — bounded like the OOV top-1000 broadcast,
    never document grain). Ties break on the lowest set id; rounds stop
    early when nothing remains uncovered (sets with zero marginal gain
    contribute no rows, so an empty aggregate IS the stop signal).

    Returns [(step, set_id, gain, covered_after), ...] — bounded (k
    rows), suitable for createDataFrame by the caller. At 100 TB the
    membership table is the term-grain projection (|docs| x doc-vocab
    rows); each round shuffles it once on the set id.

    The covered-element state stays a DATAFRAME consumed via a broadcast
    left-anti join (ADVICE r9: the former isin() literal list rebuilt
    the expression tree with up to one document's whole vocabulary every
    round — 10^4..10^6 literals risked driver OOM/analysis blowup), and
    its size is ENFORCED at covered_bound (the bounded_axis discipline:
    broadcastability is an assumption, so outgrowing it must fail by
    name). Because `m` is distinct, a round's gain IS its count of newly
    covered elements, so covered_after accumulates arithmetically — no
    extra count() action per round."""
    from pdf_brain_spark.functions.guards import AXIS_BOUND

    covered_bound = AXIS_BOUND
    m = membership.select(
        F.col(set_col).alias("_s"), F.col(elem_col).alias("_e")
    ).distinct().localCheckpoint(eager=True)  # scanned once per round
    covered_df: DataFrame | None = None
    covered_n = 0
    out: list[tuple[int, int, int, int]] = []
    for step in range(1, k + 1):
        rem = m
        if covered_df is not None:
            rem = m.join(F.broadcast(covered_df), "_e", "left_anti")
        best = (
            rem.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_g"))
            .orderBy(F.col("_g").desc(), F.col("_s").asc())
            .limit(1)
            .collect()  # bounded: one row
        )
        if not best:
            break
        sid, gain = best[0]["_s"], int(best[0]["_g"])
        covered_n += gain
        if covered_n > covered_bound:
            raise ValueError(
                f"greedy_set_cover: covered-element set reached {covered_n} "
                f"> {covered_bound} — the broadcast-anti-join state "
                "assumption is broken at this scale; cover a coarser "
                "element grain (e.g. hashed element buckets) instead"
            )
        # checkpoint only the per-round DELTA (r10 review): `new` is the
        # winner's still-uncovered elements; the union over already-
        # materialized legs stays lazy, so each covered element is
        # written exactly once instead of the whole accumulated set
        # being re-materialized every round (O(k·|covered|) writes)
        new = rem.filter(F.col("_s") == sid).select("_e").localCheckpoint(
            eager=True
        )
        covered_df = new if covered_df is None else covered_df.unionByName(new)
        out.append((step, int(sid), gain, covered_n))
    return out
