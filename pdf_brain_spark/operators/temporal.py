"""Temporal join operators (beyond-reference: SURVEY §2.3 notes the
reference has no as-of/interval joins). Spark has no ASOF JOIN; the
standard formulations are:

  * asof_backward_join — union-and-window: tag both inputs, sort once per
    key by (ts, side), carry the most recent right-side row forward with
    last(..., ignorenulls). ONE shuffle on the key, no join operator at
    all, output size = |left|. The alternative (range join on a time
    band) explodes on wide bands and silently misses matches beyond the
    band; this form is exact for unbounded lookback.

  * bucketized range joins live in queries.events_range_join: equi-join
    on (key, time-bucket) with bounded fan-out, for bounded intervals.

At 100 TB both sides co-partition by the key and the window is a single
pass; skewed keys (one user with millions of events) are the only
hotspot. Sessionization has a skew-salted form (sessionize_salted: the
per-key window split by time bucket, plus a bucket-axis carry); the as-of
join does not, so a key whose rows break executor memory is salted
upstream of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_brain_spark.functions.guards import bounded_axis

# DERIVED constant, not folklore: the `session_gap_sensitivity` gate
# (queries.py) sweeps 5/15/30/60-minute gaps in one window pass and
# hash-attests the resulting session counts per round. At the attested
# scales the 15→30 step changes the session count far less than 5→15
# (the curve's knee), while 30→60 starts merging visits that the
# per-user inter-event gap distribution separates — so 30 minutes is
# the flattest point of the sensitivity curve, matching the industry
# default for the right reason. Change the default only with a new
# sweep from that gate.
SESSION_GAP_SECONDS = 1800


def asof_backward_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_cols: tuple[str, ...] = ("value",),
    prefix: str = "asof_",
) -> DataFrame:
    """For each left row, the most recent right row with
    right_ts <= left_ts and the same key (ties: the right row at exactly
    left_ts counts — "at or before"). Returns all left columns plus
    `{prefix}ts` and `{prefix}<payload>` columns (NULL when no right row
    precedes the left row)."""
    from pyspark.sql import Window

    l_struct = F.struct(*[F.col(c) for c in left.columns])
    l2 = left.select(
        F.col(key_col).alias("_key"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        l_struct.alias("_lrow"),
        F.lit(None).cast(dict(right.dtypes)[right_ts]).alias("_rts"),
        *[
            F.lit(None).cast(dict(right.dtypes)[p]).alias(f"_p_{p}")
            for p in payload_cols
        ],
    )
    r2 = right.select(
        F.col(key_col).alias("_key"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l2.schema["_lrow"].dataType).alias("_lrow"),
        F.col(right_ts).alias("_rts"),
        *[F.col(p).alias(f"_p_{p}") for p in payload_cols],
    )
    # right rows sort before left rows at equal ts so "at or before"
    # includes the tie. Among right rows at the SAME timestamp the carried
    # row is otherwise arbitrary (window order within equal sort keys is
    # not deterministic), so the payload struct is a final sort key: the
    # winner is the max payload — deterministic.
    r_tie = F.when(
        F.col("_side") == 0,
        F.struct(*[F.col(f"_p_{p}").alias(p) for p in payload_cols]),
    )
    w = (
        Window.partitionBy("_key")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), r_tie.asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        l2.unionByName(r2)
        .withColumn(f"{prefix}ts", F.last("_rts", ignorenulls=True).over(w))
        .withColumn(
            "_payload_struct",
            F.last(
                F.when(
                    F.col("_side") == 0,
                    F.struct(*[F.col(f"_p_{p}").alias(p) for p in payload_cols]),
                ),
                ignorenulls=True,
            ).over(w),
        )
    )
    return carried.filter(F.col("_side") == 1).select(
        "_lrow.*",
        f"{prefix}ts",
        *[F.col(f"_payload_struct.{p}").alias(f"{prefix}{p}") for p in payload_cols],
    )


def tiered_time_rollup(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    value_col: str,
    tiers: list[tuple[str, str]] = (("1h", "1 hour"), ("1d", "1 day")),
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the finest tier
    aggregates the raw rows ONCE; every coarser tier re-aggregates the
    previous tier's partials instead of rescanning the facts — at 100 TB
    the daily tier reads hours (×24 reduction), not raw events. Emits the
    union of tiers tagged by a `tier` column with columns
    (…group_cols, tier, window_start, n_events, total_value); total_value
    is rounded to 4 decimals at emission, partials stay exact."""
    finest_label, finest_span = tiers[0]
    cur = (
        df.groupBy(*group_cols, F.window(ts_col, finest_span).alias("w"))
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(value_col).alias("_sv"))
        .select(*group_cols, F.col("w.start").alias("window_start"), "_n", "_sv")
    )
    if len(tiers) > 1:
        # without this, each coarser tier's union branch re-scans the FACTS
        # and recomputes the finest aggregate (Catalyst's ReuseExchange
        # can't match the branches) — pinning the finest partials means
        # coarser tiers genuinely read them. localCheckpoint, not cache():
        # cache() entries live in the CacheManager until someone calls
        # unpersist, which a lazy operator can't do safely (the caller
        # collects after we return) — so repeated invocations in a
        # long-lived session would accumulate. Checkpoint blocks are
        # reclaimed by the ContextCleaner when the DataFrame goes out of
        # scope. In production the finest tier is a materialized
        # continuous-aggregate table; this is its in-plan stand-in.
        cur = cur.localCheckpoint(eager=True)
    out = cur.select(
        *group_cols,
        F.lit(finest_label).alias("tier"),
        "window_start",
        F.col("_n").alias("n_events"),
        F.round("_sv", 4).alias("total_value"),
    )
    for label, span in tiers[1:]:
        cur = (
            cur.groupBy(*group_cols, F.window("window_start", span).alias("w"))
            .agg(F.sum("_n").alias("_n"), F.sum("_sv").alias("_sv"))
            .select(*group_cols, F.col("w.start").alias("window_start"), "_n", "_sv")
        )
        out = out.unionByName(
            cur.select(
                *group_cols,
                F.lit(label).alias("tier"),
                "window_start",
                F.col("_n").alias("n_events"),
                F.round("_sv", 4).alias("total_value"),
            )
        )
    return out


def sessionize_salted(
    events: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    gap_seconds: int = SESSION_GAP_SECONDS,
    bucket_span: str = "1 hour",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Skew-hardened gap sessionization: identical semantics to the
    classic lag+running-sum formulation (queries.events_sessionize), but
    the per-key window is SALTED BY TIME BUCKET so a hot key's rows never
    serialize through one task, in two exact passes:

      1. within-bucket: window on (key, bucket) ordered by
         (ts, *order_cols); a row opens a session when its gap from the
         previous IN-BUCKET row exceeds gap_seconds. The bucket-opening
         row's verdict is deferred to pass 2.
      2. bucket axis: per (key, bucket) summary (first_ts, last_ts,
         internal session starts). A window over the per-key BUCKET axis
         (rows = buckets, not events) decides each bucket-opening row
         against the PREVIOUS bucket's last_ts, and a running sum of
         per-bucket session starts provides the session-id offset, so a
         session spanning any number of buckets numbers continuously.

    Returns all input columns plus `session_id` (1-based, per key,
    increasing in event-time order). Tune bucket_span so the hottest
    (key, bucket) fits a task; sessions longer than a bucket are handled
    exactly (carry is from the previous NON-EMPTY bucket)."""
    from pyspark.sql import Window

    gap_us = int(gap_seconds) * 1_000_000
    ev = events.withColumn("_bkt", F.window(F.col(ts_col), bucket_span)["start"])
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in order_cols]
    wb = Window.partitionBy(key_col, "_bkt").orderBy(*order)
    lag_ts = F.lag(F.col(ts_col)).over(wb)
    new_in_bucket = F.when(
        lag_ts.isNull(), F.lit(0)  # bucket opener: decided in pass 2
    ).otherwise(
        (
            (F.unix_micros(F.col(ts_col)) - F.unix_micros(lag_ts)) > gap_us
        ).cast("int")
    )
    rows = ev.withColumn("_new_in", new_in_bucket).withColumn(
        "_run_in",
        F.sum("_new_in").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
    )

    # pass 2: one summary row per (key, bucket) — tiny relative to events
    summ = rows.groupBy(key_col, "_bkt").agg(
        F.min(ts_col).alias("_first_ts"),
        F.max(ts_col).alias("_last_ts"),
        F.sum("_new_in").alias("_n_internal"),
    )
    wk = Window.partitionBy(key_col).orderBy(F.col("_bkt").asc())
    prev_last = F.lag(F.col("_last_ts")).over(wk)
    opens_new = F.when(
        prev_last.isNull()
        | ((F.unix_micros(F.col("_first_ts")) - F.unix_micros(prev_last)) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    buckets = summ.withColumn("_opens", opens_new).withColumn(
        "_offset",
        F.coalesce(
            F.sum(F.col("_n_internal") + F.col("_opens")).over(
                wk.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )

    # join the bucket verdicts back: equi-join on (key, bucket), both
    # sides already hash-partitioned on the same keys by the windows
    out_cols = [c for c in events.columns]
    return (
        rows.join(buckets.select(key_col, "_bkt", "_opens", "_offset"), [key_col, "_bkt"])
        .withColumn(
            "session_id", (F.col("_offset") + F.col("_opens") + F.col("_run_in")).cast("long")
        )
        .select(*out_cols, "session_id")
    )


def gapfill_locf(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-bucket gap-filling with last-observation-carried-forward —
    the TimescaleDB `time_bucket_gapfill` + `locf` analog: every
    (series, hour) slot between the table's min and max hour exists in
    the output, empty slots carry n_events = 0 and the most recent
    non-null hourly average, flagged is_gap = 1. Downstream consumers
    (charting, anomaly baselines, training-feature frames) need the
    dense grid; a naive groupBy silently drops empty buckets.

    Scale shape: the FACT table is touched exactly once, by the hourly
    aggregate (map-side partial, one shuffle on (series, hour)).
    Everything after operates at bucket grain: the spine is
    |series| × |hours| rows generated from one scalar min/max aggregate
    via `sequence()` + explode (no fact scan), the spine↔hourly join is
    bucket-grain × bucket-grain, and LOCF is one window per series
    ordered by hour (`last(..., ignorenulls=True)` over an unbounded-
    preceding frame). At 100 TB the spine for 10k series × 10 years of
    hours is ~900M rows — still orders of magnitude under the fact
    table, and the operator's cost stays dominated by the single
    aggregate scan."""
    from pyspark.sql.window import Window

    # The per-bucket average is computed from a CENT-SCALED INTEGER sum:
    # integer addition is exact and associative, so the average is
    # bit-identical regardless of float summation order — a raw
    # double avg() hit a 6-decimal rounding boundary on one bucket in
    # 3600 at sf0.1 (engine A x.xxxxxx5−ε, engine B +ε) and flipped the
    # cross-engine hash. Semantics: the value column is averaged at
    # 2-decimal (cent) input precision.
    cents = F.round(F.col(value_col) * 100).cast("long")
    hourly = (
        events.groupBy(
            F.col(type_col), F.date_trunc("hour", F.col(ts_col)).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(cents).cast("double") / (F.count(F.lit(1)) * F.lit(100.0)), 6
            ).alias("avg_value"),
        )
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("hi"),
    )
    spine = (
        events.select(type_col).distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            type_col,
            F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("bucket"),
        )
    )
    joined = spine.join(hourly, [type_col, "bucket"], "left")
    w = (
        Window.partitionBy(type_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col(type_col),
        F.col("bucket"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w).alias("locf_avg_value"),
        F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
    )


def debounce_events(
    events: DataFrame,
    epsilon_seconds: int = 60,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Burst-collapse (debounce/throttle) — the telemetry-cleaning
    staple: collapse each BURST of same-key events into one row, where a
    burst chains transitively (an event joins the burst if it is within
    epsilon of the PREVIOUS event, not of the burst head — the standard
    throttle semantics; a long steady drizzle of sub-epsilon gaps is one
    burst however long it spans). Retries, double-clicks, and sensor
    chatter become single logical events; the collapsed count is kept so
    downstream aggregates can still weight by raw volume.

    Same gaps-and-islands shape as sessionize and duplicate_spans — ONE
    shuffle on the key, two window passes over the same sort (island
    numbering, then first-row pick), burst-grain aggregate reusing the
    partitioning. Per-key state is O(1); a hot key is a big sorted
    partition, salted upstream if it breaks executor memory (the
    sessionize_salted play).

    Returns one row per burst: key_cols + (burst_id 0-based per key,
    ts = burst start, kept id = first event's tiebreak,
    n_collapsed, burst_span_seconds)."""
    from pyspark.sql.window import Window

    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
    # all time arithmetic in EXACT MICROSECOND integers: a seconds cast
    # floors each endpoint independently, so floor(a)−floor(b) disagrees
    # with the true gap (and with any engine using fractional epochs) by
    # ±1 around sub-second offsets — the cross-engine class the cent-sums
    # fixed for values, applied to time
    us = F.unix_micros(F.col(ts_col))
    gap_us = us - F.lag(us).over(w)
    new_burst = F.when(gap_us > epsilon_seconds * 1_000_000, 1).otherwise(0)
    with_burst = events.select(
        *keys, ts_col, tiebreak_col
    ).withColumn("_us", us).withColumn("burst_id", F.sum(new_burst).over(w))
    return (
        with_burst.groupBy(*keys, "burst_id")
        .agg(
            F.min(ts_col).alias(ts_col),
            F.min(F.struct(F.col("_us"), F.col(tiebreak_col)))[tiebreak_col].alias(
                f"kept_{tiebreak_col}"
            ),
            F.count(F.lit(1)).alias("n_collapsed"),
            F.floor((F.max("_us") - F.min("_us")) / F.lit(1_000_000)).alias(
                "burst_span_seconds"
            ),
        )
    )


def scd2_compress(
    snapshots: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    attr_col: str = "tier",
    period_col: str = "day",
) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build — compress a per-period
    attribute history (one row per key per observed period) into
    validity ranges: a new version opens whenever the attribute CHANGES
    between consecutive observed periods, and closes when the next
    version opens (valid_to = the next version's valid_from; NULL =
    current). The lakehouse dimension-maintenance staple: turns an
    event-derived attribute stream into the join-able dimension a
    warehouse keeps.

    Gaps-and-islands again (the sessionize/debounce shape): ONE shuffle
    on the key, change-flag + running-sum windows over the same sort,
    then a version-grain aggregate and one more window for the
    valid_to handoff — all reusing the key partitioning, so the whole
    build is a single exchange however long the history. Per-key state
    is O(1) in the windows.

    Returns key_cols + (version 1-based, attr_col, valid_from,
    valid_to NULL-for-current, n_periods)."""
    from pyspark.sql.window import Window

    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(F.col(period_col).asc())
    changed = F.when(
        F.lag(F.col(attr_col)).over(w).isNull()
        | (F.lag(F.col(attr_col)).over(w) != F.col(attr_col)),
        1,
    ).otherwise(0)
    islands = snapshots.withColumn("_v", F.sum(changed).over(w))
    vers = islands.groupBy(*keys, "_v").agg(
        F.first(attr_col).alias(attr_col),
        F.min(period_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_periods"),
    )
    wv = Window.partitionBy(*keys).orderBy(F.col("valid_from").asc())
    return vers.select(
        *keys,
        F.col("_v").alias("version"),
        attr_col,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_periods",
    )


def last_touch_attribution(
    events: DataFrame,
    touch_type: str = "click",
    conversion_type: str = "purchase",
    window_seconds: int = 7 * 24 * 3600,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: each conversion is attributed to the
    LATEST preceding touch event by the same user within the lookback
    window (or left unattributed). The marketing/analytics staple that
    is secretly an as-of join — re-expressed with the union-and-window
    play (asof_backward_join): both event roles sort ONCE per user and
    a running max of struct(ts, id) over touch rows carries the most
    recent touch onto every conversion row. ONE shuffle on user_id, no
    per-conversion probe join, no range explosion.

    Time arithmetic is exact integer microseconds (the debounce rule).
    Returns one row per conversion: (id_col, user_col, ts_col,
    attributed_touch_id NULL-if-none, touch_gap_seconds NULL-if-none)."""
    from pyspark.sql.window import Window

    both = events.filter(F.col(type_col).isin([touch_type, conversion_type])).select(
        user_col, type_col, ts_col, id_col, F.unix_micros(F.col(ts_col)).alias("_us")
    )
    # conversions sort after simultaneous touches (a touch at the exact
    # conversion instant attributes), hence the role key in the ordering
    role = F.when(F.col(type_col) == touch_type, 0).otherwise(1)
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col("_us").asc(), role.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(
        F.col(type_col) == touch_type, F.struct(F.col("_us"), F.col(id_col))
    )
    carried = both.withColumn("_last_touch", F.max(touch).over(w))
    conv = carried.filter(F.col(type_col) == conversion_type)
    in_window = F.col("_last_touch").isNotNull() & (
        F.col("_us") - F.col("_last_touch._us") <= window_seconds * 1_000_000
    )
    return conv.select(
        id_col,
        user_col,
        ts_col,
        F.when(in_window, F.col(f"_last_touch.{id_col}")).alias("attributed_touch_id"),
        F.when(
            in_window,
            F.floor((F.col("_us") - F.col("_last_touch._us")) / F.lit(1_000_000)),
        ).alias("touch_gap_seconds"),
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count (event_type -> next_event_type) adjacencies and
    their per-source probabilities — the behavioral-modeling summary
    (next-action prediction, anomaly baselines, path analysis).

    ONE shuffle on user_id for the lead() window, then a tiny
    (|types|²-row) aggregate with map-side partial counting; the
    probability divides two exact integer counts, rounded 6 on both
    engines. Returns (from_type, to_type, n_transitions, prob)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pairs = (
        events.select(user_col, ts_col, id_col, F.col(type_col).alias("from_type"))
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wsrc = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wsrc).cast("double"),
            6,
        ).alias("prob"),
    )


def ohlc_bars(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """Open/high/low/close value bars per (key, time bucket) — the
    time-series downsampling primitive (market bars, sensor rollups,
    metric retention tiers). Values are cent-grain exact integers
    internally (the engine's cross-engine float rule); open/close pick
    the first/last event by (ts, id) via min/max over struct — ONE
    groupBy shuffle, no window pass, map-side combinable (min/max/count
    of structs are associative).

    Returns (key_col, bar_start, open/high/low/close 2-dp values,
    n_events)."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    ordkey = F.struct(
        F.unix_micros(F.col(ts_col)).alias("_us"),
        F.col(id_col).alias("_id"),
        cents.alias("_c"),
    )
    money = lambda c: F.round(c.cast("double") / 100.0, 2)  # noqa: E731
    return (
        events.select(
            F.col(key_col),
            F.date_trunc(bucket, F.col(ts_col)).alias("bar_start"),
            ordkey.alias("_ord"),
            cents.alias("_cents"),
        )
        .groupBy(key_col, "bar_start")
        .agg(
            money(F.min("_ord")["_c"]).alias("open"),
            money(F.max("_cents")).alias("high"),
            money(F.min("_cents")).alias("low"),
            money(F.max("_ord")["_c"]).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def with_session_ids(
    events: DataFrame,
    gap_seconds: int = SESSION_GAP_SECONDS,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Append a per-user `session_id` (1-based running count) via the
    gap-threshold gaps-and-islands play — THE shared sessionization
    kernel (events_sessionize, session path mining, and the salted
    variant's per-bucket pass all use this exact rule, so a change to
    the gap semantics lands once). Comparison is exact integer
    microseconds: a seconds-floor gap disagrees with fractional epochs
    by ±1 s at sub-second boundaries (the debounce rule)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(F.col(ts_col)).over(w))
    new_session = F.when(
        gap.isNull() | (gap > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def cusum_stats(
    events: DataFrame,
    series_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    cents_col: str = "c",
) -> DataFrame:
    """Per-series CUSUM mean-shift statistics (Page 1954). The textbook
    one-sided recursion C_i = max(0, C_{i-1} + d_i) is not a window
    function, but it has an exact prefix form:

        C_i = S_i - min(0, min_{j<=i} S_j)     (upward shifts)
        D_i = max(0, max_{j<=i} S_j) - S_i     (downward shifts)

    with S the running sum of deviations. The min/max must include the
    EMPTY prefix S_0 = 0 (hence the outer clamp): a row-frame min over
    rows 1..i alone loses any shift that starts at the first row —
    caught by the randomized recursion test. So the whole detector is
    three frames over ONE (series, time) sort: no recursion, no UDF,
    no second exchange (verified by the randomized identity test in
    tests/test_randomized_references.py). Deviations stay
    integer-exact by scaling: d_i = n * c_i - total sums to zero over
    each series, so statistics are in cents x n units and no float
    mean exists anywhere.

    Returns per series: n_events, max_up, max_down (scaled units) and
    peak_up_ts, the timestamp of the upward peak (rank-1 with
    deterministic (up DESC, ts, id) tie-break)."""
    from pyspark.sql import Window

    wt = Window.partitionBy(series_col)
    typed = events.select(
        series_col, ts_col, id_col, cents_col,
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum(cents_col).over(wt).alias("tot"),
    )
    wo = (
        Window.partitionBy(series_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = typed.select(
        series_col, ts_col, id_col, "n",
        F.sum(F.col("n") * F.col(cents_col) - F.col("tot")).over(wo).alias("s"),
    )
    cusum = pref.select(
        series_col, ts_col, id_col, "n",
        (F.col("s") - F.least(F.lit(0), F.min("s").over(wo))).alias("up"),
        (F.greatest(F.lit(0), F.max("s").over(wo)) - F.col("s")).alias("down"),
    )
    wr = Window.partitionBy(series_col).orderBy(
        F.col("up").desc(), F.col(ts_col).asc(), F.col(id_col).asc()
    )
    ranked = cusum.withColumn("rn_up", F.row_number().over(wr))
    return (
        ranked.groupBy(series_col, F.col("n").alias("n_events"))
        .agg(
            F.max("up").alias("max_up"),
            F.max("down").alias("max_down"),
            F.min(F.when(F.col("rn_up") == 1, F.col(ts_col))).alias("peak_up_ts"),
        )
    )


def peak_concurrency(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-key peak number of simultaneously-open intervals and the
    earliest instant that peak is first reached — the classic sweep-line
    reduced to relational form. Each interval contributes +1 at its start
    and -1 at its end; deltas are PRE-AGGREGATED per (key, instant)
    before the running sum, which both bounds the window input at the
    distinct-timestamp grain and pins the half-open [start, end)
    semantics: an interval ending exactly when another starts nets to
    zero at that instant and the two never count as concurrent, on any
    engine, regardless of within-instant row order.

    Shape: one union (no shuffle), one map-side-combinable groupBy on
    (key, ts), then ONE exchange on the key shared by both windows (the
    ordered running sum and the unordered per-key max reuse the same
    hash partitioning) and a final groupBy that also reuses it. Works
    for any orderable timestamp type (tz or ntz) — no epoch conversion.
    Per-key state in the window is the distinct instants of that key;
    salt upstream if one key owns a pathological share of the
    timeline."""
    from pyspark.sql import Window

    deltas = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(start_col).alias("_ts"),
            F.lit(1).alias("_d"),
        )
        .unionByName(
            df.select(
                F.col(key_col).alias("_k"),
                F.col(end_col).alias("_ts"),
                F.lit(-1).alias("_d"),
            )
        )
        .groupBy("_k", "_ts")
        .agg(F.sum("_d").alias("_delta"))
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = deltas.select(
        "_k", "_ts", F.sum("_delta").over(w).alias("_run")
    )
    peaked = runs.withColumn(
        "_peak", F.max("_run").over(Window.partitionBy("_k"))
    )
    return (
        peaked.filter(F.col("_run") == F.col("_peak"))
        .groupBy("_k")
        .agg(
            F.max("_peak").cast("long").alias("peak"),
            F.min("_ts").alias("peak_ts"),
        )
        .select(F.col("_k").alias(key_col), "peak", "peak_ts")
    )


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Exponentially-weighted moving average with dyadic smoothing
    alpha = 1/2^k, kept EXACT by running the recursion in scaled
    integers: s_t = s_{t-1} + ((x_t·2^k − s_{t-1}) >> k), s_0 = x_0·2^k,
    where s = ewma·2^k and >> is the ARITHMETIC shift (floor division by
    2^k for negative differences too — Spark shiftright and DuckDB >>
    agree on this; integer `/`-family operators do NOT, they truncate).
    No float accumulates across steps, so the full history is
    bit-reproducible on any engine — the same trick as the CUSUM gate.

    Input must be one row per (key, instant). Shape: one groupBy
    collects each series (series grain is bounded — key × bucket, never
    raw events), one fold emits the running state, one posexplode
    restores rows. The control-chart complement of cusum_stats: CUSUM
    detects level shifts, EWMA tracks the level itself."""
    pts = df.groupBy(key_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(ts_col).alias("ts"), F.col(value_col).alias("x"))
            )
        ).alias("_pts")
    )
    init = F.array(
        F.struct(
            F.element_at("_pts", 1)["ts"].alias("ts"),
            F.element_at("_pts", 1)["x"].alias("x"),
            F.shiftleft(F.element_at("_pts", 1)["x"], k).cast("long").alias("s"),
        )
    )
    folded = pts.select(
        key_col,
        F.aggregate(
            F.slice("_pts", 2, F.greatest(F.size("_pts") - 1, F.lit(0))),
            init,
            lambda acc, p: F.concat(
                acc,
                F.array(
                    F.struct(
                        p["ts"].alias("ts"),
                        p["x"].alias("x"),
                        (
                            F.element_at(acc, -1)["s"]
                            + F.shiftright(
                                F.shiftleft(p["x"], k).cast("long")
                                - F.element_at(acc, -1)["s"],
                                k,
                            )
                        ).alias("s"),
                    )
                ),
            ),
        ).alias("_run"),
    )
    return folded.select(
        key_col, F.explode("_run").alias("p")
    ).select(
        key_col,
        F.col("p.ts").alias(ts_col),
        F.col("p.x").cast("long").alias(value_col),
        F.col("p.s").cast("long").alias("ewma_scaled"),
        F.round(F.col("p.s") / F.lit(float(2**k)), 6).alias("ewma"),
    )


def kaplan_meier(
    spans: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival estimator over integer durations:
    S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) at each observed event time, with
    right-censored spans leaving the risk set without contributing a
    death. Input: one row per subject with an integer duration and a
    0/1 event flag (1 = observed event, 0 = censored).

    The float-product hazard is converted to an EXACT integer pipeline:
    per event time the factor ln((n_i − d_i)/n_i) rounds once to integer
    micro-nats, the cumulative product becomes a cumulative SUM of
    integers, and survival is one final exp rounded to 6dp. Risk sets
    come from reversed cumulative counts, never a per-subject scan per
    time point. Shape (r12): one duration-grain groupBy + the STITCHED
    two-level scan (operators/stitched.py) over the duration axis for
    all three prefixes — the risk-set exclusive count, the micro-nat
    hazard sum, and the ln(0)-seen flag (a prefix MAX of a 0/1
    indicator == prefix SUM > 0, so it rides the same scan); only the
    domain/4096 bucket-carry frame stays single-partition, guarded by
    name. Event times where n_i == d_i (everyone left) yield
    ln(0) = −∞; they are emitted with survival 0.0 via the flag rather
    than a NaN."""
    from pdf_brain_spark.operators.stitched import stitched_prefix_sums

    per_t = spans.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.col(event_col)).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    total = spans.select(F.count(F.lit(1)).alias("_total"))
    risky = (
        stitched_prefix_sums(
            per_t, "t", ["leaving"], what="Kaplan-Meier duration axis"
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "at_risk",
            (
                F.col("_total")
                - (F.col("leaving_cum") - F.col("leaving"))
            ).cast("long"),
        )
    )
    deaths = risky.filter(F.col("d") > 0)
    ln_micro = F.when(
        F.col("at_risk") > F.col("d"),
        F.round(
            F.log(
                (F.col("at_risk") - F.col("d")).cast("double")
                / F.col("at_risk")
            )
            * 1000000
        ).cast("long"),
    )
    pre = (
        deaths.withColumn("_lm", ln_micro)
        .withColumn("_lmz", F.coalesce(F.col("_lm"), F.lit(0)))
        .withColumn(
            "_znull",
            F.when(F.col("_lm").isNull(), F.lit(1)).otherwise(F.lit(0)),
        )
    )
    cum = stitched_prefix_sums(
        pre, "t", ["_lmz", "_znull"], what="Kaplan-Meier death-time axis"
    )
    return cum.select(
        F.col("t").alias(duration_col),
        "at_risk",
        F.col("d").alias("deaths"),
        F.when(F.col("_znull_cum") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("_lmz_cum") / F.lit(1000000.0)), 6))
        .alias("survival"),
    )


def asof_forward_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_cols: tuple[str, ...] = ("value",),
    prefix: str = "next_",
) -> DataFrame:
    """For each left row, the EARLIEST right row with right_ts >=
    left_ts and the same key — the forward complement of
    asof_backward_join ("what happened next": next purchase after
    signup, next deploy after alert). Same union-window plan (one key
    exchange, no join): left and right interleave on one sorted
    timeline per key and first(ignorenulls) over the forward frame
    carries the next right payload back. Ties: a right row AT the left
    timestamp counts ("at or after" — right sorts after left at equal
    ts so it stays inside the current-row-anchored frame); among right
    rows at the same timestamp the winner is the MIN payload struct —
    deterministic, the mirror of the backward join's max tie-break.
    NULL payload when no right row follows."""
    from pyspark.sql import Window

    l_struct = F.struct(*[F.col(c) for c in left.columns])
    l2 = left.select(
        F.col(key_col).alias("_key"),
        F.col(left_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        l_struct.alias("_lrow"),
        F.lit(None).cast(dict(right.dtypes)[right_ts]).alias("_rts"),
        *[
            F.lit(None).cast(dict(right.dtypes)[p]).alias(f"_p_{p}")
            for p in payload_cols
        ],
    )
    r2 = right.select(
        F.col(key_col).alias("_key"),
        F.col(right_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(l2.schema["_lrow"].dataType).alias("_lrow"),
        F.col(right_ts).alias("_rts"),
        *[F.col(p).alias(f"_p_{p}") for p in payload_cols],
    )
    r_tie = F.when(
        F.col("_side") == 1,
        F.struct(*[F.col(f"_p_{p}").alias(p) for p in payload_cols]),
    )
    w = (
        Window.partitionBy("_key")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), r_tie.asc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carried = (
        l2.unionByName(r2)
        .withColumn(f"{prefix}ts", F.first("_rts", ignorenulls=True).over(w))
        .withColumn(
            "_payload_struct",
            F.first(
                F.when(
                    F.col("_side") == 1,
                    F.struct(*[F.col(f"_p_{p}").alias(p) for p in payload_cols]),
                ),
                ignorenulls=True,
            ).over(w),
        )
    )
    return carried.filter(F.col("_side") == 0).select(
        "_lrow.*",
        f"{prefix}ts",
        *[F.col(f"_payload_struct.{p}").alias(f"{prefix}{p}") for p in payload_cols],
    )


def holt_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    scale: int = 1000,
) -> DataFrame:
    """Holt double exponential smoothing (level + trend) with DYADIC
    smoothing constants kept EXACT in scaled integers — the forecasting
    member of the EWMA/CUSUM recursion family, one order up (EWMA
    tracks level; Holt also tracks slope and can extrapolate):

        l_t = (x_t·scale + l_{t-1} + b_{t-1}) >> 1          (alpha = 1/2)
        b_t = b_{t-1} + ((l_t − l_{t-1} − b_{t-1}) >> 2)    (beta  = 1/4)
        l_0 = x_0·scale, b_0 = 0

    where >> is the ARITHMETIC shift (floor for negatives too — Spark
    shiftright and DuckDB >> agree; `/`-family operators do NOT, the
    EWMA lesson). No float ever enters the recursion, so a recursive-
    CTE twin replays the whole history bit for bit.

    Shape: one groupBy collects each bounded series (key × calendar
    grain, never raw events), one JVM-side aggregate fold carries
    (l, b) — whole-stage-codegen, no Python. Returns one row per key:
    (key, n_points, level_milli, trend_milli) at the series end."""
    pts = df.groupBy(key_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(ts_col).alias("ts"), F.col(value_col).alias("x"))
            )
        ).alias("_pts")
    )
    init = F.struct(
        (F.element_at("_pts", 1)["x"] * scale).cast("long").alias("l"),
        F.lit(0).cast("long").alias("b"),
    )
    rest = F.slice("_pts", 2, F.greatest(F.size("_pts") - 1, F.lit(0)))

    def _step(acc, p):
        new_l = F.shiftright(
            (p["x"] * scale).cast("long") + acc["l"] + acc["b"], 1
        )
        new_b = acc["b"] + F.shiftright(new_l - acc["l"] - acc["b"], 2)
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    out = pts.select(
        F.col(key_col),
        F.size("_pts").cast("long").alias("n_points"),
        F.aggregate(rest, init, _step).alias("_st"),
    )
    return out.select(
        key_col,
        "n_points",
        F.col("_st.l").alias("level_milli"),
        F.col("_st.b").alias("trend_milli"),
    )
