"""As-of join semantics on hand-crafted edge cases the generated testdata
can't exercise: exact-ts ties, no-prior-match NULLs, and key isolation."""

from datetime import datetime

from pyspark.sql import functions as F


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_backward_tie_and_nulls(spark):
    from pdf_brain_spark.operators.temporal import asof_backward_join

    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),  # before any right row -> NULL
            (2, 10, _ts("2024-01-01 12:00:00")),  # tie with right @12:00 -> matched
            (3, 10, _ts("2024-01-01 13:00:00")),  # after -> still the 12:00 row
            (4, 20, _ts("2024-01-01 12:30:00")),  # other key: only its own rights
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 12:00:00"), 5.0),
            (10, _ts("2024-01-01 14:00:00"), 7.0),  # later than all left rows
            (20, _ts("2024-01-01 12:15:00"), 9.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: r
        for r in asof_backward_join(
            left, right, key_col="user_id", payload_cols=("value",), prefix="asof_"
        ).collect()
    }
    assert out[1]["asof_ts"] is None and out[1]["asof_value"] is None
    # tie at exactly 12:00: "at or before" includes it
    assert out[2]["asof_ts"] == _ts("2024-01-01 12:00:00")
    assert out[2]["asof_value"] == 5.0
    assert out[3]["asof_ts"] == _ts("2024-01-01 12:00:00")
    # key isolation: user 20 matches its own 12:15 row, never user 10's
    assert out[4]["asof_value"] == 9.0
    # left row count preserved
    assert len(out) == 4


def test_asof_backward_picks_latest_of_equal_ts_rights(spark):
    from pdf_brain_spark.operators.temporal import asof_backward_join

    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 12:00:00"))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 11:00:00"), 1.0),
            (10, _ts("2024-01-01 11:30:00"), 2.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    row = asof_backward_join(
        left, right, key_col="user_id", payload_cols=("value",)
    ).collect()[0]
    assert row["asof_ts"] == _ts("2024-01-01 11:30:00")
    assert row["asof_value"] == 2.0


def test_asof_plan_is_single_window_no_join(spark):
    """The operator's contract: one shuffle on the key, zero join nodes."""
    from pdf_brain_spark.operators.temporal import asof_backward_join

    left = spark.createDataFrame([(1, 10, _ts("2024-01-01 12:00:00"))],
                                 "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame([(10, _ts("2024-01-01 11:00:00"), 1.0)],
                                  "user_id long, ts timestamp, value double")
    plan = (
        asof_backward_join(left, right, key_col="user_id", payload_cols=("value",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_sessionize_salted_matches_unsalted_on_100x_skew(spark):
    """Salted sessionize (VERDICT r3 item 6): a user with 100x everyone
    else's events must produce IDENTICAL per-row session ids through the
    time-bucketed two-pass operator, with per-task window input bounded
    by the (key, bucket) group — including sessions that span bucket
    boundaries and buckets that are empty for a key."""
    import random

    from pyspark.sql import Window

    from pdf_brain_spark.operators.temporal import sessionize_salted

    rng = random.Random(11)
    base = datetime(2025, 3, 1)
    rows = []
    eid = 0
    # 10 normal users x 30 events spread over a day
    for u in range(1, 11):
        for _ in range(30):
            ts = base.replace(hour=rng.randrange(24), minute=rng.randrange(60))
            rows.append((eid, u, ts)); eid += 1
    # hot user 0: 3000 events, including dense runs that chain sessions
    # across hourly bucket boundaries and multi-hour silent gaps
    for _ in range(3000):
        ts = base.replace(
            hour=rng.randrange(24), minute=rng.randrange(60), second=rng.randrange(60)
        )
        rows.append((eid, 0, ts)); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")

    # unsalted reference: classic lag + running sum over the whole key
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    new_s = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    plain = {
        (r["event_id"], r["session_id"])
        for r in ev.withColumn("_n", new_s)
        .withColumn(
            "session_id",
            F.sum("_n").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .select("event_id", "session_id")
        .collect()
    }

    salted_df = sessionize_salted(
        ev, "user_id", gap_seconds=1800, bucket_span="1 hour", order_cols=("event_id",)
    )
    salted = {
        (r["event_id"], r["session_id"])
        for r in salted_df.select("event_id", "session_id").collect()
    }
    assert salted == plain

    # per-task bound: hot key splits across 24 hourly buckets
    sizes = (
        ev.groupBy("user_id", F.window("ts", "1 hour")["start"].alias("b"))
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    assert sizes < 400  # ~3030/24 + slack; unsalted would see 3030

    # the salted plan's event-scale window really partitions on (key, bucket)
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan


def test_salted_operators_match_unsalted_on_random_corpora(spark):
    """Property-style equivalence over randomized corpora (seeded, multiple
    draws in one Spark session — a hypothesis @given would pay a Spark job
    per example): for random event sets with duplicate timestamps, sparse
    keys, and empty-bucket gaps, salted sessionize == the classic window
    formulation, row for row."""
    import random

    from pyspark.sql import Window

    from pdf_brain_spark.operators.temporal import sessionize_salted

    base = datetime(2025, 5, 1)
    for seed in (1, 7, 23):
        rng = random.Random(seed)
        n_users = rng.randint(2, 6)
        rows_e = []
        eid = 0
        for u in range(n_users):
            # bursty hours with gaps; duplicate timestamps
            for _ in range(rng.randint(5, 60)):
                ts = base.replace(
                    hour=rng.choice([0, 1, 2, 9, 10, 22, 23]),
                    minute=rng.randrange(60),
                    second=rng.choice([0, 0, 30]),  # forced ts collisions
                )
                rows_e.append((eid, u, ts)); eid += 1
        ev = spark.createDataFrame(rows_e, "event_id long, user_id long, ts timestamp")

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
        new_s = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
        plain_sess = {
            (r["event_id"], r["session_id"])
            for r in ev.withColumn("_n", new_s)
            .withColumn(
                "session_id",
                F.sum("_n").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
            )
            .select("event_id", "session_id")
            .collect()
        }
        salted_sess = {
            (r["event_id"], r["session_id"])
            for r in sessionize_salted(
                ev, "user_id", gap_seconds=1800, bucket_span="1 hour",
                order_cols=("event_id",),
            )
            .select("event_id", "session_id")
            .collect()
        }
        assert salted_sess == plain_sess, f"sessionize mismatch at seed {seed}"


def test_gapfill_locf_known_gaps(spark):
    """Planted series: type 'a' has events at hours 0, 1, 3 (hour 2
    missing) and type 'b' only at hour 3 (leading gap). The dense grid
    must cover hours 0..3 for BOTH series; gap slots carry n_events=0,
    is_gap=1, and the last non-null average — except b's leading gaps,
    which stay NULL (nothing to carry)."""
    from pdf_brain_spark.operators.temporal import gapfill_locf

    rows = [
        ("a", "2024-01-01 00:10:00", 10.0),
        ("a", "2024-01-01 00:50:00", 20.0),
        ("a", "2024-01-01 01:10:00", 30.0),
        ("a", "2024-01-01 03:10:00", 40.0),
        ("b", "2024-01-01 03:30:00", 99.0),
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string, value double").selectExpr(
        "event_type", "CAST(ts_s AS TIMESTAMP) AS ts", "value"
    )
    out = {
        (r["event_type"], r["bucket"].hour): r
        for r in gapfill_locf(ev).collect()
    }
    assert len(out) == 8  # 2 series x 4 hours
    a2 = out[("a", 2)]
    assert a2["n_events"] == 0 and a2["is_gap"] == 1
    assert a2["locf_avg_value"] == 30.0  # carried from hour 1
    assert out[("a", 0)]["locf_avg_value"] == 15.0  # avg(10, 20)
    assert out[("a", 3)]["locf_avg_value"] == 40.0 and out[("a", 3)]["is_gap"] == 0
    for h in (0, 1, 2):
        b = out[("b", h)]
        assert b["n_events"] == 0 and b["is_gap"] == 1
        assert b["locf_avg_value"] is None  # leading gap: nothing to carry
    assert out[("b", 3)]["locf_avg_value"] == 99.0


def test_funnel_ordering_semantics(spark):
    """Planted sequences prove ORDER matters, not mere presence:
    a click before any view must not count step 2, a purchase without a
    prior qualifying click must not count step 3."""
    from pdf_brain_spark.operators.analytics import funnel_conversion

    rows = [
        # user 1: view -> click -> purchase  (reaches all three)
        (1, "view", "2024-01-01 00:00:00", 1),
        (1, "click", "2024-01-01 00:01:00", 2),
        (1, "purchase", "2024-01-01 00:02:00", 3),
        # user 2: click BEFORE view — step 2 not reached
        (2, "click", "2024-01-01 00:00:00", 4),
        (2, "view", "2024-01-01 00:01:00", 5),
        # user 3: view -> purchase, no click — step 3 not reached
        (3, "view", "2024-01-01 00:00:00", 6),
        (3, "purchase", "2024-01-01 00:01:00", 7),
        # user 4: view -> click -> click -> purchase (reaches all)
        (4, "view", "2024-01-01 00:00:00", 8),
        (4, "click", "2024-01-01 00:01:00", 9),
        (4, "click", "2024-01-01 00:02:00", 10),
        (4, "purchase", "2024-01-01 00:03:00", 11),
        # user 5: purchase -> click -> view (reaches step 1 only)
        (5, "purchase", "2024-01-01 00:00:00", 12),
        (5, "click", "2024-01-01 00:01:00", 13),
        (5, "view", "2024-01-01 00:02:00", 14),
        # user 6: no view at all — reaches nothing
        (6, "click", "2024-01-01 00:00:00", 15),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_s string, event_id long"
    ).selectExpr("user_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts", "event_id")
    out = {r["step"]: r for r in funnel_conversion(ev, ["view", "click", "purchase"]).collect()}
    assert out[1]["n_users"] == 5  # users 1-5 all have a view
    assert out[2]["n_users"] == 2  # only 1 and 4 clicked AFTER a view
    assert out[3]["n_users"] == 2  # only 1 and 4 completed in order
    assert out[2]["conversion"] == 0.4
    assert out[3]["step_name"] == "purchase"


def test_retention_cohorts_known_matrix(spark):
    """Planted cohorts across two start weeks (weeks are Monday-aligned:
    2024-01-01 and 2024-01-08 are Mondays): cohort A = users 1,2,3
    first active week 0; user 1 returns weeks 1 and 2, user 2 returns
    week 1, user 3 never returns. Cohort B = user 4, first active week
    1, returns week 2. Duplicate events inside a week must not inflate
    counts (distinct user-week grain)."""
    from pdf_brain_spark.operators.analytics import retention_cohorts

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 10:00:00"),  # dup week
        (1, "2024-01-08 10:00:00"), (1, "2024-01-15 10:00:00"),
        (2, "2024-01-03 10:00:00"), (2, "2024-01-09 10:00:00"),
        (3, "2024-01-04 10:00:00"),
        (4, "2024-01-08 10:00:00"), (4, "2024-01-16 10:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts_s string").selectExpr(
        "user_id", "CAST(ts_s AS TIMESTAMP) AS ts"
    )
    out = {
        (str(r["cohort_week"])[:10], r["week_offset"]): (r["n_users"], r["retention"])
        for r in retention_cohorts(ev).collect()
    }
    assert out[("2024-01-01", 0)] == (3, 1.0)
    assert out[("2024-01-01", 1)] == (2, round(2 / 3, 6))
    assert out[("2024-01-01", 2)] == (1, round(1 / 3, 6))
    assert out[("2024-01-08", 0)] == (1, 1.0)
    assert out[("2024-01-08", 1)] == (1, 1.0)
    assert len(out) == 5


def test_count_anomalies_finds_planted_spike(spark):
    """A series with uniform hourly volume plus one 10x spike hour: the
    spike must rank 1 with a large positive z-score; a flat series must
    still return 3 ranked rows with near-zero scores (top-k, not a
    threshold, so quiet series are reported too, just unremarkably)."""
    from pdf_brain_spark.queries import get_queries, lookup_query

    rows = []
    eid = 0
    for h in range(24):
        n = 50 if h == 7 else 5  # spike at hour 7
        for i in range(n):
            rows.append((eid, "spiky", f"2024-01-01 {h:02d}:10:00", 1.0))
            eid += 1
        rows.append((eid, "flat", f"2024-01-01 {h:02d}:20:00", 1.0))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts_s string, value double"
    ).selectExpr("event_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts", "value")

    import tempfile, shutil, os
    d = tempfile.mkdtemp()
    try:
        ev.write.parquet(f"{d}/events.parquet")
        out = lookup_query("events_count_anomalies")(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    spiky = sorted((r for r in out if r["event_type"] == "spiky"), key=lambda r: r["rnk"])
    flat = [r for r in out if r["event_type"] == "flat"]
    assert spiky[0]["n_events"] == 50 and spiky[0]["bucket"].hour == 7
    assert spiky[0]["zscore"] > 4.0
    assert len(flat) == 3 and all(abs(r["zscore"]) < 1e-6 for r in flat)


def test_debounce_chained_burst_semantics(spark):
    """Transitive chaining: a drizzle of sub-epsilon gaps is ONE burst
    even when its total span exceeds epsilon; a gap just over epsilon
    starts a new burst; the kept id is the burst's first event."""
    from datetime import datetime, timedelta

    from pdf_brain_spark.operators.temporal import debounce_events

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # burst A: events at +0s, +50s, +100s, +150s (each gap 50 <= 60,
    # span 150 > epsilon — still one burst under chaining)
    for i, off in enumerate([0, 50, 100, 150]):
        rows.append((1, "click", t0 + timedelta(seconds=off), 100 + i))
    # 61 s after the LAST event: new burst
    rows.append((1, "click", t0 + timedelta(seconds=211.5), 200))
    # other key untouched
    rows.append((1, "view", t0, 300))
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    got = {
        (r["user_id"], r["event_type"], r["burst_id"]): r
        for r in debounce_events(ev, epsilon_seconds=60).collect()
    }
    assert set(got) == {(1, "click", 0), (1, "click", 1), (1, "view", 0)}
    a = got[(1, "click", 0)]
    assert a["n_collapsed"] == 4 and a["kept_event_id"] == 100
    assert a["burst_span_seconds"] == 150
    b = got[(1, "click", 1)]
    assert b["n_collapsed"] == 1 and b["kept_event_id"] == 200
    assert b["burst_span_seconds"] == 0


def test_funnel_windowed_bounds_conversion(spark):
    """Planted journeys: a hop inside the window converts; a hop just
    outside it does not; the windowed count is never above the
    unconstrained funnel's."""
    from datetime import datetime, timedelta

    from pdf_brain_spark.operators.analytics import (
        funnel_conversion,
        funnel_conversion_windowed,
    )

    t0 = datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        # user 1: view -> click 30 min later (inside 1h window)
        (1, "view", t0, 10), (1, "click", t0 + timedelta(minutes=30), 11),
        # user 2: view -> click 90 min later (outside)
        (2, "view", t0, 20), (2, "click", t0 + timedelta(minutes=90), 21),
        # user 3: view only
        (3, "view", t0, 30),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    win = {r["step_name"]: r["n_users"] for r in funnel_conversion_windowed(
        ev, ["view", "click"], within_seconds=3600
    ).collect()}
    base = {r["step_name"]: r["n_users"] for r in funnel_conversion(
        ev, ["view", "click"]
    ).collect()}
    assert win == {"view": 3, "click": 1}
    assert base == {"view": 3, "click": 2}
    assert win["click"] <= base["click"]


def test_scd2_compress_known_history(spark):
    """Planted attribute history: changes open versions, repeats extend
    them, valid_to hands off to the next version, last version is open
    (NULL), gaps in observed periods do NOT split a version."""
    from pdf_brain_spark.operators.temporal import scd2_compress

    snaps = spark.createDataFrame(
        [
            (1, _ts("2024-01-01"), "low"),
            (1, _ts("2024-01-02"), "low"),
            (1, _ts("2024-01-04"), "high"),   # gap on the 3rd: no split
            (1, _ts("2024-01-05"), "high"),
            (1, _ts("2024-01-06"), "low"),    # back to low = NEW version
            (2, _ts("2024-01-01"), "mid"),
        ],
        "user_id long, day timestamp, tier string",
    )
    rows = {
        (r["user_id"], r["version"]): r
        for r in scd2_compress(snaps, ("user_id",), "tier", "day").collect()
    }
    assert len(rows) == 4
    v1, v2, v3 = rows[(1, 1)], rows[(1, 2)], rows[(1, 3)]
    assert (v1["tier"], v1["n_periods"]) == ("low", 2)
    assert (v2["tier"], v2["n_periods"]) == ("high", 2)
    assert (v3["tier"], v3["n_periods"]) == ("low", 1)
    # valid_to chains to the next version's valid_from; current is open
    assert v1["valid_to"] == v2["valid_from"] == _ts("2024-01-04")
    assert v2["valid_to"] == v3["valid_from"] == _ts("2024-01-06")
    assert v3["valid_to"] is None
    assert rows[(2, 1)]["valid_to"] is None


def test_last_touch_attribution_window_and_ties(spark):
    """Planted journeys: latest preceding click wins, same-instant click
    attributes, out-of-window click does not, and a user with no click
    is unattributed."""
    from pdf_brain_spark.operators.temporal import last_touch_attribution

    ev = spark.createDataFrame(
        [
            # user 1: two clicks then purchase -> latest click (id 2) wins
            (1, 1, "click", _ts("2024-01-01 10:00:00")),
            (2, 1, "click", _ts("2024-01-01 11:00:00")),
            (3, 1, "purchase", _ts("2024-01-01 12:00:00")),
            # user 2: click at the exact purchase instant -> attributes
            (4, 2, "click", _ts("2024-01-02 09:00:00")),
            (5, 2, "purchase", _ts("2024-01-02 09:00:00")),
            # user 3: click 8 days before purchase -> outside 7d window
            (6, 3, "click", _ts("2024-01-01 00:00:00")),
            (7, 3, "purchase", _ts("2024-01-09 00:00:01")),
            # user 4: purchase with no click at all
            (8, 4, "purchase", _ts("2024-01-03 00:00:00")),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    out = {
        r["event_id"]: (r["attributed_touch_id"], r["touch_gap_seconds"])
        for r in last_touch_attribution(ev).collect()
    }
    assert out[3] == (2, 3600)
    assert out[5] == (4, 0)
    assert out[7] == (None, None)
    assert out[8] == (None, None)


def test_event_transitions_probabilities(spark):
    """Planted sequences: transitions count per user in ts order and
    probabilities normalize per source type."""
    from pdf_brain_spark.operators.temporal import event_transitions

    ev = spark.createDataFrame(
        [
            (1, 1, "view", _ts("2024-01-01 10:00:00")),
            (2, 1, "click", _ts("2024-01-01 10:01:00")),
            (3, 1, "view", _ts("2024-01-01 10:02:00")),
            (4, 2, "view", _ts("2024-01-01 11:00:00")),
            (5, 2, "purchase", _ts("2024-01-01 11:05:00")),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["prob"])
        for r in event_transitions(ev).collect()
    }
    # view -> click, view -> purchase (one each of 2 view-transitions),
    # click -> view (the only click transition)
    assert got[("view", "click")] == (1, 0.5)
    assert got[("view", "purchase")] == (1, 0.5)
    assert got[("click", "view")] == (1, 1.0)
    assert len(got) == 3


def test_ohlc_bars_pick_first_and_last(spark):
    """Planted bar: open is the first event by (ts, id) — including an
    id tie-break at the same timestamp — close the last, high/low the
    extremes, all at exact cent grain."""
    from pdf_brain_spark.operators.temporal import ohlc_bars

    ev = spark.createDataFrame(
        [
            # two events at the SAME open instant: lower event_id wins open
            (2, "click", _ts("2024-01-01 10:00:00"), 5.00),
            (1, "click", _ts("2024-01-01 10:00:00"), 3.33),
            (3, "click", _ts("2024-01-01 10:20:00"), 9.99),
            (4, "click", _ts("2024-01-01 10:40:00"), 1.01),
            (5, "click", _ts("2024-01-01 10:59:59"), 7.77),
            (6, "view", _ts("2024-01-01 10:30:00"), 2.22),  # other key
        ],
        "event_id long, event_type string, ts timestamp, value double",
    )
    rows = {r["event_type"]: r for r in ohlc_bars(ev, bucket="hour").collect()}
    c = rows["click"]
    assert (c["open"], c["high"], c["low"], c["close"], c["n_events"]) == (
        3.33, 9.99, 1.01, 7.77, 5
    )
    v = rows["view"]
    assert (v["open"], v["close"], v["n_events"]) == (2.22, 2.22, 1)


def test_holt_linear_matches_python_recursion(spark):
    """Randomized second opinion: the JVM-fold Holt recursion must
    bit-match a pure-python replay of the same dyadic-integer
    recursion, including negative trend excursions."""
    import random

    from pdf_brain_spark.operators.temporal import holt_linear

    rng = random.Random(23)
    rows = []
    series = {}
    for key in ("a", "b"):
        xs = [rng.randint(-50, 200) for _ in range(40)]
        series[key] = xs
        rows += [(key, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, t long, x long")
    got = {
        r["k"]: (r["n_points"], r["level_milli"], r["trend_milli"])
        for r in holt_linear(df, "k", "t", "x", scale=1000).collect()
    }
    for key, xs in series.items():
        l, b = xs[0] * 1000, 0
        for x in xs[1:]:
            nl = (x * 1000 + l + b) >> 1
            b = b + ((nl - l - b) >> 2)
            l = nl
        assert got[key] == (len(xs), l, b), key


def test_little_law_stitched_sweep_equals_global(spark):
    """The partition-and-stitch sweep (sessions_little_law_audit's
    per-UTC-day prefix sum + day-grain carry + successor-first-instant
    width stitch) is row-identical to the textbook single global
    window, on a constructed interval set that exercises every stitch
    hazard: intervals crossing day boundaries, instants ON a midnight
    boundary, zero-length intervals, tied endpoints across users, and
    a day with no boundary instants at all (gap day). This is the
    intra-Spark half of the proof; the cross-engine half is the gate's
    DuckDB oracle, which keeps the global-window form."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    DAY = 86_400_000_000
    rng = random.Random(12)
    iv = []
    for _ in range(300):
        s = rng.randrange(0, 5 * DAY)
        if rng.random() < 0.1:
            e = s  # zero-length
        elif rng.random() < 0.3:
            e = s + rng.randrange(1, 3 * DAY)  # crosses days
        else:
            e = s + rng.randrange(0, 2 * 10**6)
        iv.append((s, e))
    iv += [(DAY, DAY + 5), (2 * DAY - 1, 2 * DAY), (0, 0), (DAY, DAY)]
    # gap day: nothing lands in day 6, but day 7 has instants
    iv += [(7 * DAY + 3, 7 * DAY + 9)]
    df = spark.createDataFrame(iv, "s long, e long")
    deltas = (
        df.select(F.col("s").alias("ts"), F.lit(1).alias("d"))
        .unionAll(df.select(F.col("e").alias("ts"), F.lit(-1).alias("d")))
        .groupBy("ts")
        .agg(F.sum("d").cast("long").alias("delta"))
        .withColumn("day", F.expr("ts div 86400000000"))
    )
    # global-window textbook form
    wg = Window.orderBy("ts")
    glob = deltas.select(
        "ts",
        F.sum("delta")
        .over(wg.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("run"),
        F.lead("ts").over(wg).alias("nxt"),
    )
    # partition-and-stitch form (the gate's shape)
    wd = Window.partitionBy("day").orderBy("ts")
    intra = deltas.select(
        "day", "ts",
        F.sum("delta")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long").alias("cum_day"),
        F.lead("ts").over(wd).alias("nxt_day"),
    )
    wdays = Window.orderBy("day")
    stitch = (
        deltas.groupBy("day")
        .agg(F.sum("delta").cast("long").alias("day_sum"),
             F.min("ts").alias("first_ts"))
        .select(
            "day",
            F.coalesce(
                F.sum("day_sum").over(
                    wdays.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long").alias("carry"),
            F.lead("first_ts").over(wdays).alias("next_day_first_ts"),
        )
    )
    stitched = intra.join(F.broadcast(stitch), "day").select(
        "ts",
        (F.col("carry") + F.col("cum_day")).alias("run"),
        F.coalesce(F.col("nxt_day"), F.col("next_day_first_ts")).alias("nxt"),
    )
    a = sorted(map(tuple, glob.collect()))
    b = sorted(map(tuple, stitched.collect()))
    assert a == b and len(a) > 500
