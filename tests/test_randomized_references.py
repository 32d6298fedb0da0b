"""Randomized identity checks for the round-7 operators: seeded random
inputs, compared row-for-row against independent pure-python brute-force
references (the test strategy the dedup/span suites use — an
implementation-independent second opinion, not a planted example)."""

import random
from datetime import datetime, timedelta

from pyspark.sql import functions as F

T0 = datetime(2024, 3, 1, 0, 0, 0)


def test_scd2_matches_python_reference(spark):
    from pdf_brain_spark.operators.temporal import scd2_compress

    for seed in (7, 11, 23):
        rng = random.Random(seed)
        rows = []
        for user in range(6):
            days = sorted(rng.sample(range(40), rng.randint(1, 15)))
            for d in days:
                rows.append((user, T0 + timedelta(days=d), rng.choice("abc")))
        df = spark.createDataFrame(rows, "user_id long, day timestamp, tier string")
        got = {
            (r["user_id"], r["version"]): (
                r["tier"], r["valid_from"], r["valid_to"], r["n_periods"]
            )
            for r in scd2_compress(df, ("user_id",), "tier", "day").collect()
        }
        # python reference: compress consecutive-observation runs
        want = {}
        by_user = {}
        for u, d, t in rows:
            by_user.setdefault(u, []).append((d, t))
        for u, seq in by_user.items():
            seq.sort()
            versions = []
            for d, t in seq:
                if versions and versions[-1][0] == t:
                    versions[-1][2] += 1
                else:
                    versions.append([t, d, 1])
            for i, (t, vf, n) in enumerate(versions):
                vt = versions[i + 1][1] if i + 1 < len(versions) else None
                want[(u, i + 1)] = (t, vf, vt, n)
        assert got == want


def test_event_transitions_matches_python_reference(spark):
    from pdf_brain_spark.operators.temporal import event_transitions

    for seed in (3, 19):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for user in range(8):
            for i in range(rng.randint(0, 12)):
                rows.append(
                    (eid, user, rng.choice(["v", "c", "p"]), T0 + timedelta(minutes=i))
                )
                eid += 1
        if not rows:
            continue
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp"
        )
        got = {
            (r["from_type"], r["to_type"]): (r["n_transitions"], r["prob"])
            for r in event_transitions(df).collect()
        }
        counts = {}
        by_user = {}
        for e, u, t, ts in rows:
            by_user.setdefault(u, []).append((ts, e, t))
        for u, seq in by_user.items():
            seq.sort()
            for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        totals = {}
        for (a, _), n in counts.items():
            totals[a] = totals.get(a, 0) + n
        want = {k: (n, round(n / totals[k[0]], 6)) for k, n in counts.items()}
        assert got == want


def test_ohlc_matches_python_reference(spark):
    from pdf_brain_spark.operators.temporal import ohlc_bars

    for seed in (5, 29):
        rng = random.Random(seed)
        rows = []
        for eid in range(120):
            # deliberately collide timestamps (id tie-break) and hours
            ts = T0 + timedelta(minutes=rng.randint(0, 300))
            rows.append(
                (eid, rng.choice(["x", "y"]), ts, round(rng.uniform(0.01, 99.99), 2))
            )
        df = spark.createDataFrame(
            rows, "event_id long, event_type string, ts timestamp, value double"
        )
        got = {
            (r["event_type"], r["bar_start"]): (
                r["open"], r["high"], r["low"], r["close"], r["n_events"]
            )
            for r in ohlc_bars(df, bucket="hour").collect()
        }
        bars = {}
        for e, t, ts, v in rows:
            key = (t, ts.replace(minute=0, second=0, microsecond=0))
            bars.setdefault(key, []).append((ts, e, round(v * 100)))
        want = {}
        for key, evs in bars.items():
            evs.sort()
            cents = [c for _, _, c in evs]
            want[key] = (
                round(evs[0][2] / 100.0, 2),
                round(max(cents) / 100.0, 2),
                round(min(cents) / 100.0, 2),
                round(evs[-1][2] / 100.0, 2),
                len(evs),
            )
        assert got == want


def test_last_touch_matches_python_reference(spark):
    from pdf_brain_spark.operators.temporal import last_touch_attribution

    for seed in (13, 31):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for user in range(6):
            for _ in range(rng.randint(0, 15)):
                rows.append(
                    (
                        eid,
                        user,
                        rng.choice(["click", "purchase", "view"]),
                        T0 + timedelta(hours=rng.randint(0, 400)),
                    )
                )
                eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp"
        )
        window_s = 7 * 24 * 3600
        got = {
            r["event_id"]: (r["attributed_touch_id"], r["touch_gap_seconds"])
            for r in last_touch_attribution(df, window_seconds=window_s).collect()
        }
        want = {}
        by_user = {}
        for e, u, t, ts in rows:
            if t in ("click", "purchase"):
                by_user.setdefault(u, []).append((ts, t, e))
        for u, seq in by_user.items():
            # clicks sort before purchases at the same instant (role key)
            seq.sort(key=lambda x: (x[0], 0 if x[1] == "click" else 1, x[2]))
            last_click = None
            for ts, t, e in seq:
                if t == "click":
                    last_click = (ts, e)
                else:
                    if last_click and (ts - last_click[0]).total_seconds() <= window_s:
                        gap = int((ts - last_click[0]).total_seconds())
                        want[e] = (last_click[1], gap)
                    else:
                        want[e] = (None, None)
        assert got == want


def test_pagerank_matches_python_reference(spark):
    from pdf_brain_spark.operators.taxonomy import pagerank_exact_int

    for seed in (17, 41):
        rng = random.Random(seed)
        n = 30
        edges = set()
        for node in range(1, n):
            # 1-2 outgoing edges to earlier nodes (DAG, multi-parent)
            for _ in range(rng.randint(1, 2)):
                edges.add((node, rng.randint(0, node - 1)))
        edf = spark.createDataFrame(sorted(edges), "node long, parent long")
        got = {
            r["node"]: r["rank_nano"]
            for r in pagerank_exact_int(edf, n_iter=4).collect()
        }
        nodes = {u for u, _ in edges} | {v for _, v in edges}
        N = len(nodes)
        scale = 1_000_000_000
        outdeg = {}
        for u, _ in edges:
            outdeg[u] = outdeg.get(u, 0) + 1
        r = {v: scale // N for v in nodes}
        base = (15 * scale) // (100 * N)
        for _ in range(4):
            in_sum = {v: 0 for v in nodes}
            for u, v in edges:
                in_sum[v] += r[u] // outdeg[u]
            r = {v: base + (85 * in_sum[v]) // 100 for v in nodes}
        assert got == r


def test_snapshot_diff_matches_python_reference(spark):
    import hashlib

    from pdf_brain_spark.operators.ingest import snapshot_diff

    rng = random.Random(97)
    old = {k: rng.choice(["aa", "bb", "cc", None]) for k in range(40)}
    new = {}
    for k, v in old.items():
        roll = rng.random()
        if roll < 0.2:
            continue  # delete
        if roll < 0.5:
            new[k] = rng.choice(["aa", "bb", "dd", None])  # maybe update
        else:
            new[k] = v
    for k in range(100, 110):
        new[k] = "fresh"

    df_old = spark.createDataFrame(list(old.items()), "doc_id long, text string")
    df_new = spark.createDataFrame(list(new.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r["change_type"] for r in snapshot_diff(df_old, df_new).collect()
    }
    want = {}
    for k in set(old) | set(new):
        if k not in new:
            want[k] = "delete"
        elif k not in old:
            want[k] = "insert"
        elif old[k] != new[k]:
            want[k] = "update"
    assert got == want


def test_cusum_prefix_form_matches_textbook_recursion(spark):
    """The cusum_stats operator computes Page's statistic via the
    window-expressible prefix form C_i = S_i - min(S_j, j<=i). This
    proves it against the literal textbook recursion
    C_i = max(0, C_{i-1} + d_i) on random integer series — including
    the downward arm and the peak-timestamp tie-break."""
    from pdf_brain_spark.operators.temporal import cusum_stats

    for seed in (5, 29, 101):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for series in ("a", "b", "c"):
            n = rng.randint(1, 60)
            for i in range(n):
                # duplicate timestamps on purpose: the id tie-break must hold
                t = T0 + timedelta(minutes=rng.randint(0, 20))
                rows.append((eid, series, t, rng.randint(-500, 500)))
                eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, event_type string, ts timestamp, c long"
        )
        got = {
            r["event_type"]: (
                r["n_events"], r["max_up"], r["max_down"], r["peak_up_ts"]
            )
            for r in cusum_stats(df).collect()
        }
        want = {}
        by_series = {}
        for e, srs, t, c in rows:
            by_series.setdefault(srs, []).append((t, e, c))
        for srs, seq in by_series.items():
            seq.sort()  # (ts, id) order — the operator's window ordering
            n = len(seq)
            tot = sum(c for _, _, c in seq)
            up = down = best_up = best_down = 0
            peak_ts = None
            for t, e, c in seq:
                d = n * c - tot
                up = max(0, up + d)
                down = max(0, down - d)
                if down > best_down:
                    best_down = down
                if peak_ts is None or up > best_up:
                    best_up, peak_ts = up, t
            want[srs] = (n, best_up, best_down, peak_ts)
        assert got == want


def test_market_basket_lift_matches_python_reference(spark):
    """Drives the REAL gate against synthetic lineitem/part parquet and
    checks support/lift against a direct python model — pair direction
    (brand_a < brand_b), the distinct-per-order projection, the
    n_both >= 5 support floor, the micro-unit lift rounding, and the
    (lift DESC, brands) LIMIT ordering."""
    import os
    import shutil
    import tempfile
    from collections import Counter

    from pdf_brain_spark.queries import lookup_query

    for seed in (13, 37):
        rng = random.Random(seed)
        parts = [(pk, f"B{pk % 6}") for pk in range(30)]
        lines = []
        for ok in range(60):
            for pk in rng.sample(range(30), rng.randint(1, 6)):
                for _ in range(rng.randint(1, 2)):  # duplicate lines
                    lines.append((ok, pk))
        d = tempfile.mkdtemp(prefix="basket_t_")
        try:
            spark.createDataFrame(
                lines, "l_orderkey long, l_partkey long"
            ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
            spark.createDataFrame(
                parts, "p_partkey long, p_brand string"
            ).write.mode("overwrite").parquet(os.path.join(d, "part.parquet"))
            got = [
                (r["brand_a"], r["brand_b"], r["n_both"], r["lift_micro"])
                for r in lookup_query("market_basket_lift")(spark, d).collect()
            ]
        finally:
            shutil.rmtree(d, ignore_errors=True)
        brand_of = dict(parts)
        baskets = {}
        for ok, pk in lines:
            baskets.setdefault(ok, set()).add(brand_of[pk])
        marg, both = Counter(), Counter()
        for items in baskets.values():
            for x in items:
                marg[x] += 1
            for x in items:
                for y in items:
                    if x < y:
                        both[(x, y)] += 1
        want = sorted(
            (
                (a, b, n, round(1e6 * n * len(baskets) / (marg[a] * marg[b])))
                for (a, b), n in both.items()
                if n >= 5
            ),
            key=lambda t: (-t[3], t[0], t[1]),
        )[:100]
        assert got == want


def test_gopher_rules_match_python_reference(spark):
    """The quality-rule battery vs a plain-python model on synthetic
    docs that exercise what the fixtures cannot: newline bullet lines,
    all-symbol tokens, and empty text. Catches common-mode regex
    mistakes the DuckDB twin (same regexes) would reproduce."""
    docs = [
        (0, "the cat and a dog of to great length indeed " * 5),
        (1, "- bullet one\n- bullet two\n* bullet three\nplain line"),
        (2, "!!! ??? 123 ### $$$ %%% the a of and to more words here now ok"),
        (3, ""),
        (4, "a a a a a a a a a a the the the the of of of and and to to " * 3),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    import re

    from pdf_brain_spark.queries import lookup_query

    # run the gate's metric pipeline on this frame by monkey-loading:
    # easier to replicate the expressions via a temp view + the gate's
    # own SQL would drag sf_dir; instead compute through the same
    # column builders by calling the gate against a parquet tmp table
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="gopher_t_")
    try:
        df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        # the other tables aren't read by this gate
        got = {
            r["doc_id"]: (
                r["word_count"], r["mean_word_len_milli"], r["symbol_ppm"],
                r["bullet_ppm"], r["n_stopwords"], r["keep"],
            )
            for r in lookup_query("gopher_quality_rules")(spark, d).collect()
        }
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)
    want = {}
    for doc_id, text in docs:
        toks = [t for t in re.split(r"\s+", text.lower().strip()) if t]
        lines = (text or "").split("\n")
        n = max(len(toks), 1)
        wc = len(toks)
        mwl = round(1000.0 * sum(len(t) for t in toks) / n)
        sym = round(1e6 * sum(1 for t in toks if not re.search("[a-z]", t)) / n)
        bul = round(
            1e6 * sum(1 for l in lines if re.match(r"^[-*]", l.strip()))
            / max(len(lines), 1)
        )
        stop = sum(1 for s in ("the", "a", "of", "and", "to") if s in toks)
        keep = (
            30 <= wc <= 100000 and 3000 <= mwl <= 10000 and sym <= 100000
            and bul <= 900000 and stop >= 2
        )
        want[doc_id] = (wc, mwl, sym, bul, stop, keep)
    assert got == want


def test_kmeans_fit_exact_int_matches_python_lloyd(spark):
    """kmeans_fit_2iter second opinion (the CUSUM lesson, VERDICT r8
    item 8): an independent TEXTBOOK Lloyd's in pure python — explicit
    loops, argmin with first-minimum ties, truncating integer division,
    empty-cluster keeps previous centroid — on seeded random vectors,
    compared cell-for-cell against the distributed operator. Catches
    common-mode formula bugs a SQL twin derived from the same paper
    derivation cannot."""
    from pdf_brain_spark.operators.clustering import kmeans_fit_exact_int

    def trunc_div(a, b):
        t = abs(a) // abs(b)
        return t if (a >= 0) == (b >= 0) else -t

    for seed in (3, 17, 41):
        rng = random.Random(seed)
        k, dim, n, n_iter = 3, 5, 40, 2
        vecs = [
            [rng.uniform(-2.0, 2.0) for _ in range(dim)] for _ in range(n)
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        got = {
            (r["cluster_id"], r["dim_idx"]): (r["coord_milli"], r["n_members"])
            for r in kmeans_fit_exact_int(
                spark, df, k=k, dim=dim, n_iter=n_iter
            ).collect()
        }
        # textbook reference: quantize half-away-from-zero once, iterate
        q = [
            [
                int((abs(x) * 1000 + 0.5) // 1) * (1 if x >= 0 else -1)
                for x in v
            ]
            for v in vecs
        ]
        cents = [list(q[i]) for i in range(k)]
        sizes = [0] * k
        for _ in range(n_iter):
            members = [[] for _ in range(k)]
            for i, v in enumerate(q):
                best, best_d = 0, None
                for c in range(k):
                    d2 = sum((v[j] - cents[c][j]) ** 2 for j in range(dim))
                    if best_d is None or d2 < best_d:
                        best, best_d = c, d2
                members[best].append(i)
            for c in range(k):
                if members[c]:
                    cents[c] = [
                        trunc_div(sum(q[i][j] for i in members[c]), len(members[c]))
                        for j in range(dim)
                    ]
                sizes[c] = len(members[c])
        want = {
            (c, j): (cents[c][j], sizes[c]) for c in range(k) for j in range(dim)
        }
        assert got == want, f"seed {seed}: mismatch"


def test_aes_weighted_sampling_proportionality():
    """weighted_reservoir_sample second opinion on the FORMULA, not
    engine parity: with true uniforms, A-ES (Efraimidis & Spirakis 2006)
    selects item i as the k=1 winner with probability exactly
    w_i / sum(w) — the property that dies under the classic sign/inverse
    mistakes (u^w, min-key, 1-u). Pure python, seeded, 20k trials."""
    import math

    rng = random.Random(99)
    weights = [1.0, 2.0, 3.0, 4.0]
    wins = [0] * 4
    trials = 20000
    for _ in range(trials):
        keys = [math.log(rng.random() or 1e-12) / w for w in weights]
        wins[max(range(4), key=lambda i: keys[i])] += 1
    total_w = sum(weights)
    for i, w in enumerate(weights):
        got = wins[i] / trials
        want = w / total_w
        assert abs(got - want) < 0.02, f"item {i}: {got} vs {want}"


def test_greedy_set_cover_matches_python_reference(spark):
    """coverage_maximizing_sample second opinion: an independent
    pure-python greedy (dict-of-sets, max marginal gain, lowest-id
    ties, stop at saturation) on seeded random memberships, compared
    step-for-step against the distributed operator."""
    from pdf_brain_spark.operators.analytics import greedy_set_cover

    for seed in (5, 29):
        rng = random.Random(seed)
        universe = list(range(40))
        sets = {
            sid: set(rng.sample(universe, rng.randint(1, 12)))
            for sid in range(12)
        }
        rows = [(sid, e) for sid, es in sets.items() for e in es]
        df = spark.createDataFrame(rows, "doc_id long, term long")
        got = greedy_set_cover(df, k=5)
        covered: set = set()
        want = []
        for step in range(1, 6):
            gains = {
                sid: len(es - covered) for sid, es in sets.items()
                if len(es - covered) > 0
            }
            if not gains:
                break
            best = min(
                gains, key=lambda s: (-gains[s], s)
            )  # max gain, lowest id
            covered |= sets[best]
            want.append((step, best, gains[best], len(covered)))
        assert got == want, f"seed {seed}: {got} vs {want}"


def test_lsh_planner_scurve_matches_math_pow():
    """lsh_config_planner second opinion on the s-curve FORMULA: the
    multiplication-chain p(t) = 1-(1-t^r)^b must agree with an
    independent math.pow evaluation to well past the micro quantization,
    for every config and band midpoint — and recall must be monotone
    DECREASING in rows-per-band at fixed r*b (the property a transposed
    (b, r) would break)."""
    import math

    from pdf_brain_spark.gates.r9_r10 import _LSH_PLAN_CONFIGS, _lsh_p_chain_sql

    def chain_eval(r, b, t):
        s = 1.0
        for _ in range(r):
            s = s * t
        q = 1.0 - s
        qb = 1.0
        for _ in range(b):
            qb = qb * q
        return 1.0 - qb

    for b, r in _LSH_PLAN_CONFIGS:
        assert b * r == 128
        for band in range(11):
            t = min((band * 100000 + 50000) / 1000000.0, 1.0)
            got = chain_eval(r, b, t)
            want = 1.0 - math.pow(1.0 - math.pow(t, r), b)
            assert abs(got - want) < 1e-9, (b, r, band)
    # monotonicity: more rows per band -> stricter AND -> lower p at any t<1
    for band in range(10):
        t = (band * 100000 + 50000) / 1000000.0
        ps = [chain_eval(r, b, t) for b, r in sorted(_LSH_PLAN_CONFIGS, key=lambda x: x[1])]
        assert all(ps[i] >= ps[i + 1] - 1e-12 for i in range(len(ps) - 1)), band
    # the SQL text really is a chain (no pow()), so both engines run
    # the same IEEE sequence
    assert "pow" not in _lsh_p_chain_sql(4, 32).lower()


def test_autocorrelation_matches_python_reference(spark):
    """events_autocorrelation second opinion: the standard ACF estimator
    (shared full-series mean, full-series denominator) computed by an
    independent pure-python loop on a seeded random series, compared to
    the gate's integer-moment form run through the same Spark operator
    path on a synthetic events table."""
    from pdf_brain_spark.gates.r9_r10 import events_autocorrelation
    import tempfile, shutil, os

    rng = random.Random(13)
    hours = 48
    cents = [rng.randint(0, 50000) for _ in range(hours)]
    rows = []
    eid = 0
    for h, c in enumerate(cents):
        # one purchase event carrying the hour's whole revenue
        rows.append((eid, 1, "purchase", T0 + timedelta(hours=h), c / 100.0))
        eid += 1
    d = tempfile.mkdtemp(prefix="sgraft_acf_")
    try:
        spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
        ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        got = {
            r["lag"]: (r["n_pairs"], r["acf"])
            for r in events_autocorrelation(spark, d).collect()
        }
        n = hours
        mean = sum(cents) / n
        den = sum((x - mean) ** 2 for x in cents)
        for lag in range(1, 13):
            num = sum(
                (cents[t] - mean) * (cents[t + lag] - mean)
                for t in range(n - lag)
            )
            want = round(num / den, 6)
            np_, acf = got[lag]
            assert np_ == n - lag
            assert abs(acf - want) < 2e-6, (lag, acf, want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ivf_recall_curve_matches_python_reference(spark):
    """ivf_recall_curve second opinion: an independent pure-python
    replay — per-label mean centroids, argmin-Euclidean assignment
    (lowest-label ties), per-query probe ranking, brute-force cosine
    top-10 truth, hit = probe_rank(list of true neighbor) <= depth — on
    a seeded random corpus written as a real embeddings table, compared
    hit-for-hit. Also pins monotonicity in depth."""
    import math
    import os
    import shutil
    import tempfile

    from pdf_brain_spark.gates.r9_r10 import ivf_recall_curve

    rng = random.Random(7)
    n, dim, n_labels = 60, 4, 3
    vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]
    labels = [i % n_labels for i in range(n)]
    d = tempfile.mkdtemp(prefix="sgraft_ivfcurve_")
    try:
        spark.createDataFrame(
            [(i, labels[i], vecs[i]) for i in range(n)],
            "vec_id long, label int, embedding array<double>",
        ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
        got = {
            r["n_probes"]: (r["sum_hits"], r["recall_ppm"])
            for r in ivf_recall_curve(spark, d).collect()
        }
        # python reference
        cents = {}
        for lb in range(n_labels):
            members = [vecs[i] for i in range(n) if labels[i] == lb]
            cents[lb] = [sum(v[j] for v in members) / len(members) for j in range(dim)]

        def euclid(a, b):
            return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

        def cosd(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(y * y for y in b))
            return 1.0 - dot / (na * nb)

        assign = {
            i: min(range(n_labels), key=lambda lb: (euclid(vecs[i], cents[lb]), lb))
            for i in range(n)
        }
        hits = {dpt: 0 for dpt in (1, 2, 4, 8)}
        for qid in range(16):
            pranks = sorted(range(n_labels), key=lambda lb: (euclid(vecs[qid], cents[lb]), lb))
            prank_of = {lb: k + 1 for k, lb in enumerate(pranks)}
            top10 = sorted(range(n), key=lambda i: (cosd(vecs[i], vecs[qid]), i))[:10]
            for i in top10:
                for dpt in hits:
                    if prank_of[assign[i]] <= min(dpt, n_labels):
                        hits[dpt] += 1
        for dpt in (1, 2, 4, 8):
            assert got[dpt][0] == hits[dpt], (dpt, got[dpt][0], hits[dpt])
            assert got[dpt][1] == hits[dpt] * 1000000 // 160
        assert got[1][0] <= got[2][0] <= got[4][0] <= got[8][0]
    finally:
        shutil.rmtree(d, ignore_errors=True)

def test_kmeans_fit_seed_validation_names_the_rule(spark):
    """Non-dense / duplicate ids below k fail the seed check by NAME
    (ValueError citing the 0..k-1 rule), never a KeyError (ADVICE r9)."""
    import pytest

    from pdf_brain_spark.operators.clustering import kmeans_fit_exact_int

    # ids {0, 2, 5}: three rows pass a pure len() check but are not 0..2
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in (0, 2, 5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="UNIQUE 0-based ids"):
        kmeans_fit_exact_int(spark, df, k=3, dim=2, n_iter=1)

    # DUPLICATE id below k (r10 review): ids {0, 0, 1, 2} COVER the set
    # 0..2, so only the arity check exposes them — without it the seed
    # dict would keep an arbitrary duplicate (nondeterministic centroids)
    # while the SQL twin keeps both rows and double-counts distances
    dup = spark.createDataFrame(
        [(0, [0.0, 1.0]), (0, [9.0, 9.0]), (1, [1.0, 1.0]), (2, [2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="4 rows with ids \\[0, 1, 2\\]"):
        kmeans_fit_exact_int(spark, dup, k=3, dim=2, n_iter=1)

def _load_emb_rows(path="/root/testdata/sf0.001/embeddings.parquet"):
    import duckdb

    return duckdb.sql(
        f"SELECT vec_id, embedding FROM '{path}' ORDER BY vec_id"
    ).fetchall()


def test_ivfpq_recall_report_matches_python_model(spark):
    """Second opinion for the exact-integer IVFADC gate (VERDICT r8 item
    8 standing rule): an independent pure-python model — explicit loops
    for milli quantization, per-subspace argmin codes, integer LUT ADC,
    truncating-mean coarse centroids, 4-probe pruning, and the three
    top-10 rankings — recomputes both recall numbers on the real sf0.001
    corpus and must agree with the distributed gate row exactly."""
    from pdf_brain_spark.queries import lookup_query

    rows = _load_emb_rows()
    q = {int(i): [int(round(float(x) * 1000)) for x in v] for i, v in rows}
    ids = sorted(q)
    import duckdb

    labels = dict(
        duckdb.sql(
            "SELECT vec_id, label FROM '/root/testdata/sf0.001/embeddings.parquet'"
        ).fetchall()
    )
    # codewords: subvectors of ids 0..7
    cw = [[q[c][s * 16:(s + 1) * 16] for c in range(8)] for s in range(4)]

    def sub(v, s):
        return v[s * 16:(s + 1) * 16]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    codes = {
        i: [min(range(8), key=lambda c: (d2(sub(q[i], s), cw[s][c]), c))
            for s in range(4)]
        for i in ids
    }
    # truncating-mean per-label centroids
    def tdiv(a, b):
        t = abs(a) // abs(b)
        return t if (a >= 0) == (b >= 0) else -t

    labs = sorted(set(labels.values()))
    cmat = {}
    for l in labs:
        members = [i for i in ids if labels[i] == l]
        cmat[l] = [tdiv(sum(q[i][d] for i in members), len(members)) for d in range(64)]
    assign = {i: min(labs, key=lambda l: (d2(q[i], cmat[l]), l)) for i in ids}
    queries = [i for i in ids if i < 16]
    probe = {
        qi: {l for l in sorted(labs, key=lambda l: (d2(q[qi], cmat[l]), l))[:4]}
        for qi in queries
    }
    lut = {
        (qi, s, c): d2(sub(q[qi], s), cw[s][c])
        for qi in queries for s in range(4) for c in range(8)
    }
    adc = {
        (qi, i): sum(lut[(qi, s, codes[i][s])] for s in range(4))
        for qi in queries for i in ids
    }

    def top10(qi, pool, key):
        return set(sorted(pool, key=lambda i: (key(qi, i), i))[:10])

    flat = {qi: top10(qi, ids, lambda a, b: adc[(a, b)]) for qi in queries}
    ivfpq = {
        qi: top10(qi, [i for i in ids if assign[i] in probe[qi]],
                  lambda a, b: adc[(a, b)])
        for qi in queries
    }
    exact = {qi: top10(qi, ids, lambda a, b: d2(q[a], q[b])) for qi in queries}
    probe_hits = sum(len(ivfpq[qi] & flat[qi]) for qi in queries)
    adc_hits = sum(len(flat[qi] & exact[qi]) for qi in queries)

    got = lookup_query("ivfpq_recall_report")(spark, "/root/testdata/sf0.001").collect()[0]
    assert (got["probe_hits"], got["adc_hits"]) == (probe_hits, adc_hits)
    assert got["probe_recall_ppm"] == probe_hits * 1000000 // 160
    assert got["adc_recall_ppm"] == adc_hits * 1000000 // 160


def test_bic_model_selection_matches_python_model(spark):
    """Second opinion for the oracled BIC gate: textbook one-round
    Lloyd's + integer RSS + math.log BIC in pure python on the real
    sf0.001 corpus, cell-for-cell against the gate."""
    import math

    from pdf_brain_spark.queries import lookup_query

    rows = _load_emb_rows()
    q = {int(i): [int(round(float(x) * 1000)) for x in v] for i, v in rows}
    ids = sorted(q)
    n = len(ids)

    def tdiv(a, b):
        t = abs(a) // abs(b)
        return t if (a >= 0) == (b >= 0) else -t

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    want = {}
    for k in (2, 4, 8):
        cents = [list(q[i]) for i in range(k)]
        members = {c: [] for c in range(k)}
        for i in ids:
            best = min(range(k), key=lambda c: (d2(q[i], cents[c]), c))
            members[best].append(i)
        new = [
            [tdiv(sum(q[i][d] for i in members[c]), len(members[c]))
             for d in range(64)] if members[c] else cents[c]
            for c in range(k)
        ]
        rss = sum(min(d2(q[i], new[c]) for c in range(k)) for i in ids)
        bic = round(n * math.log(rss / n) + (k * 65) * math.log(n), 6)
        want[k] = (n, rss, bic)
    best_k = min(want, key=lambda k: (want[k][2], k))
    got = lookup_query("bic_model_selection")(spark, "/root/testdata/sf0.001").collect()
    assert [
        (r["k"], r["n_vectors"], r["rss_milli2"], r["bic"], r["is_best"])
        for r in got
    ] == [(k, want[k][0], want[k][1], want[k][2], k == best_k) for k in (2, 4, 8)]


def _waterfill_closed_form(caps: list[tuple[str, int]], budget: int):
    """Python mirror of the token_budget_waterfill gate's prefix-sum
    closed form (capacity-ascending full prefix, floor level, remainder
    to the first unfunded sources in order)."""
    order = sorted(caps, key=lambda t: (t[1], t[0]))
    n = len(order)
    cum = 0
    alloc = {}
    k, cum_k = 0, 0
    for i, (s, c) in enumerate(order, start=1):
        cum += c
        if cum + (n - i) * c <= budget:
            k, cum_k = i, cum
    level = (budget - cum_k) // (n - k)
    rem = (budget - cum_k) % (n - k)
    for i, (s, c) in enumerate(order, start=1):
        if i <= k:
            alloc[s] = c
        else:
            alloc[s] = level + (1 if i - k <= rem else 0)
    return alloc, level


def test_waterfill_closed_form_matches_binary_search_reference():
    """Second opinion for token_budget_waterfill: the prefix-sum closed
    form must agree EXACTLY with an independent derivation — binary
    search for the largest integer water level t with Σ min(c_i, t) <= B,
    remainder to the first over-level sources in the same order — on
    randomized capacities, plus the max-min fairness invariants (sum
    equals budget exactly, no source over capacity, every unfunded
    source at level or level+1)."""
    import random

    for seed in range(20):
        rng = random.Random(seed)
        n = rng.randint(2, 12)
        caps = [(f"s{i:02d}", rng.randint(0, 10_000)) for i in range(n)]
        total = sum(c for _, c in caps)
        if total < 2:
            continue
        budget = total // 2
        if budget < 1:
            continue
        alloc, level = _waterfill_closed_form(caps, budget)

        # independent reference: binary-search the integer water level
        lo, hi = 0, max(c for _, c in caps)
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if sum(min(c, mid) for _, c in caps) <= budget:
                lo = mid
            else:
                hi = mid - 1
        theta = lo
        base = sum(min(c, theta) for _, c in caps)
        rem = budget - base
        order = sorted(caps, key=lambda t: (t[1], t[0]))
        want = {s: min(c, theta) for s, c in order}
        for s, c in order:
            if rem == 0:
                break
            if c > theta:
                want[s] += 1
                rem -= 1
        assert theta == level, (seed, theta, level)
        assert alloc == want, (seed, alloc, want)
        cap_by = dict(caps)
        assert sum(alloc.values()) == budget
        assert all(alloc[s] <= cap_by[s] for s in alloc)
        assert all(
            alloc[s] in (level, level + 1)
            for s in alloc if alloc[s] < cap_by[s]
        )


def test_sequence_packing_boundary_rule_matches_simulation():
    """Second opinion for packing_boundary_report: the closed-form straddle rule
    (floor(cum_start/ctx) != floor((cum_end-1)/ctx)) must count exactly
    the documents a token-by-token packing walk splits across a chunk
    boundary, on randomized length sequences."""
    import random

    CTX = 64
    for seed in range(20):
        rng = random.Random(100 + seed)
        lens = [rng.choice([0, 1, 2, rng.randint(1, 200)]) for _ in range(50)]

        # closed form (the gate's rule)
        cum = 0
        closed = 0
        for L in lens:
            start, end = cum, cum + L
            if L >= 1 and start // CTX != (end - 1) // CTX:
                closed += 1
            cum = end

        # simulation: walk tokens into chunks, a doc spans if its tokens
        # land in more than one chunk
        pos = 0
        sim = 0
        for L in lens:
            chunks = {(pos + j) // CTX for j in range(L)}
            if len(chunks) > 1:
                sim += 1
            pos += L
        assert closed == sim, (seed, closed, sim)

        total = sum(lens)
        n_chunks = (total + CTX - 1) // CTX
        assert n_chunks * CTX - total < CTX or total == 0


def test_bpe_doubled_delimiter_merge_matches_list_reference():
    """Second opinion for bpe_merge_steps' merge device: replacing
    '|a||b|' with '|ab|' in the doubled-delimiter encoding must equal
    the greedy left-to-right list-based BPE merge on randomized symbol
    sequences — including adjacent occurrences ('a b a b' -> 'ab ab',
    which a SINGLE-delimiter encoding gets wrong because the shared '|'
    is consumed by the first match) and overlapping self-pairs
    ('a a a' -> 'aa a')."""
    import random
    import re

    def list_merge(symbols, a, b):
        out, i = [], 0
        while i < len(symbols):
            if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        return out

    def string_merge(symbols, a, b):
        s = "|" + "||".join(symbols) + "|"
        s = s.replace("|" + a + "||" + b + "|", "|" + a + b + "|")
        return re.split(r"\|\|", s.strip("|"))

    alphabet = ["a", "b", "c", "ab", "aa", "ba"]
    for seed in range(50):
        rng = random.Random(seed)
        seq = [rng.choice(alphabet) for _ in range(rng.randint(1, 12))]
        a, b = rng.choice(alphabet), rng.choice(alphabet)
        assert string_merge(seq, a, b) == list_merge(seq, a, b), (seq, a, b)
    # the named counterexamples
    assert string_merge(["a", "b", "a", "b"], "a", "b") == ["ab", "ab"]
    assert string_merge(["a", "a", "a"], "a", "a") == ["aa", "a"]


def test_query_registry_rejects_duplicate_names():
    """The @query decorator must refuse a name that is already a
    registered gate or a suite-consolidated member — a silent
    re-registration would replace an attested gate's function and oracle
    while keeping its registry position (the r10 near-miss)."""
    import pytest

    from pdf_brain_spark.queries import CONSOLIDATED, QUERIES, query

    taken = next(iter(QUERIES))
    with pytest.raises(AssertionError, match="already registered"):
        query(taken)(lambda spark, sf: None)
    member = next(iter(CONSOLIDATED))
    with pytest.raises(AssertionError, match="already registered"):
        query(member)(lambda spark, sf: None)
    assert callable(QUERIES[taken])  # original untouched


def test_kneser_ney_integer_closed_form_mass_identity():
    """Second opinion for kneser_ney_heldout's x4 integer encoding: on
    randomized bigram count tables, the gate's closed form

        p(w|v) = [max(4 c(vw) - 3, 0) T + 3 N1+(v.) N1+(.w)] / (4 c(v) T)

    must (a) equal textbook interpolated KN with D = 3/4 computed in
    exact rationals, and (b) satisfy the KN mass identity
    sum_w p(w|v) = 1 EXACTLY over the training continuation vocabulary
    (the property that makes absolute discounting a probability model,
    not a heuristic)."""
    import random
    from fractions import Fraction as Fr

    for seed in range(15):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(rng.randint(3, 8))]
        counts = {}
        for v in vocab:
            for w in vocab:
                if rng.random() < 0.6:
                    counts[(v, w)] = rng.randint(1, 9)
        if not counts:
            continue
        T = len(counts)
        cv = {}
        n1v = {}
        n1w = {}
        for (v, w), c in counts.items():
            cv[v] = cv.get(v, 0) + c
            n1v[v] = n1v.get(v, 0) + 1
            n1w[w] = n1w.get(w, 0) + 1

        D = Fr(3, 4)
        for v in cv:
            total = Fr(0)
            for w in n1w:
                c = counts.get((v, w), 0)
                # gate's integer closed form
                num = max(4 * c - 3, 0) * T + 3 * n1v[v] * n1w[w]
                den = 4 * cv[v] * T
                p_gate = Fr(num, den)
                # textbook interpolated KN, exact rationals
                p_cont = Fr(n1w[w], T)
                lam = D * n1v[v] / cv[v]
                p_text = Fr(max(Fr(c) - D, Fr(0)), cv[v]) + lam * p_cont
                assert p_gate == p_text, (seed, v, w, p_gate, p_text)
                total += p_gate
            assert total == 1, (seed, v, total)


def test_waterfill_raises_by_name_when_every_source_is_fully_funded(
    spark, tmp_path
):
    """ADVICE r10: on a degenerate corpus where every source capacity is
    0, budget = 0 and k = n — Spark's `div` would yield NULL where the
    DuckDB twin errors on /0, an engine-divergent failure mode. The gate
    must instead raise a named error before computing the water level."""
    import pytest as _pytest

    from pdf_brain_spark.queries import lookup_query

    docs = spark.createDataFrame(
        [(0, "a", " "), (1, "b", " "), (2, "c", " ")],
        "doc_id long, source string, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fn = lookup_query("token_budget_waterfill")
    with _pytest.raises(Exception, match="fully funded"):
        fn(spark, str(tmp_path)).collect()


def test_transitivity_audit_sampling_escape_hatch(spark, tmp_path):
    """VERDICT r10 item 6: dedup_transitivity_audit's at-scale sampling
    contract is a real parameter. (1) with sample_pairs >= C(sz,2) the
    acceptance ceiling reaches 1e6 ppm, so the sampled path reproduces
    the exhaustive audit bit-for-bit even for clusters over
    max_cluster_size; (2) with a small sample_pairs the oversized
    cluster is audited on a deterministic hash-drawn subset (n_pairs
    capped well under C(sz,2), identical across runs); (3) the default
    (sample_pairs=None) still excludes oversized clusters entirely."""
    from pdf_brain_spark.queries import lookup_query

    dup = "alpha beta gamma delta epsilon zeta"
    rows = [(i, "s", dup) for i in range(8)] + [
        (100, "s", "unrelated words entirely different tokens"),
        (101, "s", "another disjoint set of shingle tokens"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fn = lookup_query("dedup_transitivity_audit")
    sf = str(tmp_path)

    exhaustive = [
        tuple(r) for r in fn(spark, sf, max_cluster_size=12).collect()
    ]
    assert exhaustive and exhaustive[0][0] == 8 and exhaustive[0][1] == 28

    # accept-all sampling == exhaustive, even past max_cluster_size
    sampled_all = [
        tuple(r)
        for r in fn(spark, sf, max_cluster_size=3, sample_pairs=28).collect()
    ]
    assert sampled_all == exhaustive

    # capped sampling: deterministic subset, bounded by the ceiling
    s1 = [tuple(r) for r in fn(spark, sf, max_cluster_size=3, sample_pairs=5).collect()]
    s2 = [tuple(r) for r in fn(spark, sf, max_cluster_size=3, sample_pairs=5).collect()]
    assert s1 == s2
    n_pairs_sampled = s1[0][1]
    assert 0 < n_pairs_sampled < 28

    # the registered default still bounds the quadratic by exclusion
    assert fn(spark, sf, max_cluster_size=3).count() == 0


def test_soft_margin_flags_flip_on_boundary_fixtures(spark):
    """VERDICT r10 item 3: the soft_clustering margin contract must flag
    an on-boundary probability BY NAME. Synthetic fixtures: a raw value
    exactly on a 6dp rounding boundary (x.5 micro-units) flips
    boundary_margin_ok; a rounded value exactly at the 0.1 floor flips
    floor_margin_ok; comfortably-off-boundary values leave both TRUE."""
    from pdf_brain_spark.gates.core import _soft_margin_flags

    def flags(praw_values):
        df = spark.createDataFrame(
            [(float(p), round(p, 6)) for p in praw_values],
            "_praw double, probability double",
        )
        r = _soft_margin_flags(df).collect()[0]
        return r["boundary_margin_ok"], r["floor_margin_ok"]

    # far from both the boundary and the floor
    assert flags([0.2000002, 0.7999998]) == (True, True)
    # a RETAINED value exactly on a rounding boundary:
    # 0.1234565 * 1e6 = 123456.5
    assert flags([0.1234565, 0.5]) == (False, True)
    # an on-boundary value deep below the floor is inconsequential —
    # its rounding cannot reach the output or the retention decision
    assert flags([0.0234565, 0.5]) == (True, True)
    # the one-sided blind spot (r11 review): a raw value on the
    # 0.0999995 boundary rounds to 0.099999 (dropped) but its rounding
    # IS the retention decision — must flag
    b, _ = flags([0.0999995, 0.5])
    assert b is False
    # rounded value exactly at the retention floor
    assert flags([0.1000000, 0.9]) == (True, False)
    # near-boundary OUTSIDE epsilon (0.002 micro-units away) does not
    # flag — the contract tracks drift-sized risk, not proximity
    assert flags([0.123456502, 0.4]) == (True, True)


def _systematic_closed_form(caps: list[tuple[str, int]], n: int):
    """Python mirror of systematic_mixture_resample's closed form:
    slots_i = f(C_i) - f(C_{i-1}), f(C) = (2nC + W - 1) // (2W)."""
    order = sorted(caps)
    w = sum(c for _, c in order)
    out, prev = {}, 0
    for s, c in order:
        cum = prev + c
        f_hi = (2 * n * cum + w - 1) // (2 * w)
        f_lo = (2 * n * prev + w - 1) // (2 * w)
        out[s] = f_hi - f_lo
        prev = cum
    return out


def test_systematic_resample_closed_form_matches_position_walk():
    """Second opinion for systematic_mixture_resample: the integer
    closed form must agree EXACTLY with the textbook systematic
    resampler — walk equally-spaced positions u_j = (2j+1)W/(2n)
    through the cumulative capacities and count hits per source — on
    randomized capacities, plus the two invariants the gate pins as
    booleans (sum == n exactly; every allocation within 1 of its
    expectation n*cap/W)."""
    import random
    from fractions import Fraction

    for seed in range(25):
        rng = random.Random(1000 + seed)
        m = rng.randint(1, 15)
        caps = [(f"s{i:02d}", rng.randint(0, 5000)) for i in range(m)]
        w = sum(c for _, c in caps)
        if w == 0:
            continue
        n = rng.choice([7, 64, 256])
        got = _systematic_closed_form(caps, n)

        # independent reference: position walk in exact rationals
        order = sorted(caps)
        want = {s: 0 for s, _ in order}
        cum, idx = 0, 0
        bounds = []
        for s, c in order:
            cum += c
            bounds.append((s, cum))
        for j in range(n):
            u = Fraction(2 * j + 1, 2 * n) * w
            while u >= bounds[idx][1]:
                idx += 1
            want[bounds[idx][0]] += 1
        assert got == want, (seed, got, want)
        assert sum(got.values()) == n
        for s, c in order:
            assert abs(got[s] * w - n * c) < w, (seed, s)


def test_good_turing_identities_on_random_corpus():
    """Second opinion for good_turing_trigram: counts-of-counts from an
    independent python Counter walk, the Turing-numerator mass identity
    Σ_r (r+1)·N_{r+1} = N − N₁ (exact, nontrivial), and the gate's ppm
    formulas reproduced from raw counts."""
    import random
    from collections import Counter

    for seed in (3, 17, 29):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        grams = [
            " ".join(rng.choices(vocab, k=3))
            for _ in range(rng.randint(200, 2000))
        ]
        c = Counter(grams)
        nr = Counter(c.values())
        n_total = sum(r * k for r, k in nr.items())
        assert n_total == len(grams)
        # Turing-numerator mass identity
        lhs = sum((r + 1) * nr.get(r + 1, 0) for r in sorted(nr))
        assert lhs == n_total - nr.get(1, 0)
        # the gate's rstar_ppm formula on every emitted (r, r+1) pair
        for r in sorted(nr):
            if r <= 8 and nr.get(r + 1, 0) > 0:
                rstar_ppm = ((r + 1) * nr[r + 1] * 1_000_000) // nr[r]
                # smoothed count must be a sane adjusted count: positive
                # and bounded by (r+1) * N_{r+1} / N_r definitionally
                assert 0 < rstar_ppm
                assert rstar_ppm == ((r + 1) * nr[r + 1] * 10**6) // nr[r]


def test_ngram_novelty_min_id_equals_incremental_seen_set():
    """Second opinion for ngram_novelty_curve: the gate's min-doc-id
    formulation (a type is novel in the doc where its min id lives)
    must equal the genuinely incremental derivation — walk docs in id
    order keeping a seen-set, count each doc's distinct grams not yet
    seen — on randomized corpora."""
    import random

    for seed in (5, 23, 41):
        rng = random.Random(seed)
        vocab = [f"g{i}" for i in range(40)]
        docs = {
            did: {rng.choice(vocab) for _ in range(rng.randint(0, 12))}
            for did in range(rng.randint(3, 30))
        }
        # min-id formulation
        first = {}
        for did in sorted(docs):
            for g in docs[did]:
                first.setdefault(g, did)
        got = {
            did: sum(1 for g in docs[did] if first[g] == did)
            for did in docs
        }
        # incremental seen-set walk
        seen: set = set()
        want = {}
        for did in sorted(docs):
            fresh = docs[did] - seen
            want[did] = len(fresh)
            seen |= docs[did]
        assert got == want, seed


def test_ece_integer_formula_matches_float_reference():
    """Second opinion for soft_calibration_ece: the all-integer banded
    ECE must match an independent float implementation to within the
    floor-division quantum on randomized (confidence, hit) pairs."""
    import random

    for seed in (7, 19, 37):
        rng = random.Random(seed)
        pairs = [
            (rng.randint(0, 1_000_000), rng.randint(0, 1))
            for _ in range(rng.randint(50, 800))
        ]
        bands: dict[int, list[tuple[int, int]]] = {}
        for p, h in pairs:
            bands.setdefault(min(p // 5000, 199), []).append((p, h))
        rows = []
        for b, members in sorted(bands.items()):
            n = len(members)
            mean_conf = sum(p for p, _ in members) // n
            rate = sum(h for _, h in members) * 1_000_000 // n
            rows.append((n, abs(mean_conf - rate)))
        total = sum(n for n, _ in rows)
        ece_int = sum(n * g for n, g in rows) // total
        # float reference with exact per-band means
        ece_float = sum(
            len(ms)
            * abs(
                sum(p for p, _ in ms) / len(ms)
                - sum(h for _, h in ms) / len(ms) * 1_000_000
            )
            for ms in bands.values()
        ) / total
        # integer floor-divisions shave < 1 ppm per band plus 1 overall
        assert abs(ece_int - ece_float) <= len(bands) + 1, seed


def test_margin_alignment_matches_numpy_reference():
    """Second opinion for margin_knn_alignment: the integer margin
    pipeline (pair dots, top-4 neighbor sums, one floor division) must
    match a numpy argsort-based reference exactly on randomized
    integer vectors."""
    import random

    import numpy as np

    for seed in (11, 31):
        rng = random.Random(seed)
        m, dim, k = rng.randint(6, 24), 8, 4
        vecs = np.array(
            [[rng.randint(-50, 50) for _ in range(dim)] for _ in range(m)],
            dtype=np.int64,
        )
        dots = vecs @ vecs.T
        # pipeline formulation: per-row top-k by (dot desc, idx asc)
        knn = {}
        for i in range(m):
            cand = [(int(dots[i, j]), j) for j in range(m) if j != i]
            cand.sort(key=lambda t: (-t[0], t[1]))
            knn[i] = sum(d for d, _ in cand[:k])
        got = {
            (i, j): (2 * k * 1_000_000 * int(dots[i, j])) // (knn[i] + knn[j])
            for i in range(m)
            for j in range(i + 1, m)
            if knn[i] + knn[j] > 0
        }
        # numpy reference: argsort with an index tiebreak via lexsort
        knn_np = {}
        for i in range(m):
            d = np.delete(dots[i], i)
            idx = np.delete(np.arange(m), i)
            order = np.lexsort((idx, -d))
            knn_np[i] = int(d[order[:k]].sum())
        assert knn == knn_np, seed
        for (i, j), v in got.items():
            denom = knn_np[i] + knn_np[j]
            assert v == (8_000_000 * int(dots[i, j])) // denom


def test_lm_pruning_curve_matches_python_mirror():
    """Second opinion for lm_pruning_curve: surviving types and retained
    mass per cutoff from an independent Counter walk, on randomized
    corpora, including the monotonicity the curve must have."""
    import random
    from collections import Counter

    for seed in (13, 43):
        rng = random.Random(seed)
        vocab = [f"b{i}" for i in range(25)]
        grams = rng.choices(vocab, k=rng.randint(100, 1500))
        c = Counter(grams)
        n, v = sum(c.values()), len(c)
        prev_types, prev_mass = None, None
        for t in (1, 2, 3, 5, 8):
            surv = sum(1 for k in c.values() if k > t)
            mass = sum(k for k in c.values() if k > t)
            types_ppm = surv * 1_000_000 // v
            mass_ppm = mass * 1_000_000 // n
            if prev_types is not None:
                assert surv <= prev_types and mass <= prev_mass
            prev_types, prev_mass = surv, mass
            assert 0 <= types_ppm <= 1_000_000
            assert 0 <= mass_ppm <= 1_000_000
            # mass retention dominates type retention under any cutoff
            # (pruned types have the smallest counts)
            assert mass_ppm >= types_ppm or surv == 0


def test_systematic_resample_raises_by_name_on_zero_capacity(
    spark, tmp_path
):
    """r11 review: an all-zero-capacity corpus must raise a named error
    (Spark div would NULL while the DuckDB twin errors on /0 — the
    waterfill engine-divergence, same fix shape)."""
    import pytest as _pytest

    from pdf_brain_spark.queries import lookup_query

    docs = spark.createDataFrame(
        [(0, "a", " "), (1, "b", " ")],
        "doc_id long, source string, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fn = lookup_query("systematic_mixture_resample")
    with _pytest.raises(Exception, match="capacity is 0"):
        fn(spark, str(tmp_path)).collect()


def test_spearman_midrank_matches_closed_form_and_bruteforce():
    """Second opinion for spearman_hourly_rho: (1) on tie-FREE random
    data the doubled-mid-rank Pearson must equal the classic
    1 - 6*sum(d^2)/(n(n^2-1)) closed form exactly (in rationals);
    (2) WITH ties it must equal a brute-force tie-aware reference that
    assigns mid-ranks by sorting. Doubling the ranks must cancel."""
    import random
    from fractions import Fraction

    def midranks(vals):
        # doubled mid-rank per value: 2*count(smaller) + count(equal) + 1
        return [
            2 * sum(1 for o in vals if o < v)
            + sum(1 for o in vals if o == v)
            + 1
            for v in vals
        ]

    def rho(xs, ys):
        rx, ry = midranks(xs), midranks(ys)
        n = len(rx)
        sx, sy = sum(rx), sum(ry)
        sxx = sum(a * a for a in rx)
        syy = sum(a * a for a in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        num = n * sxy - sx * sy
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx == 0 or vy == 0:
            return None
        return Fraction(num * num, vx * vy), num > 0

    for seed in (3, 9, 27):
        rng = random.Random(seed)
        n = rng.randint(5, 40)
        # tie-free: a permutation pair
        xs = rng.sample(range(1000), n)
        ys = rng.sample(range(1000), n)
        got = rho(xs, ys)
        # closed form on plain (undoubled) ranks
        def plain_rank(vals):
            order = sorted(vals)
            return [order.index(v) + 1 for v in vals]
        d2 = sum(
            (a - b) ** 2 for a, b in zip(plain_rank(xs), plain_rank(ys))
        )
        want = 1 - Fraction(6 * d2, n * (n * n - 1))
        assert got is not None
        got_sq, got_pos = got
        assert got_sq == want * want and got_pos == (want > 0), seed

        # tie-heavy: small value domain; compare vs sort-based mid-ranks
        xs = [rng.randint(0, 5) for _ in range(n)]
        ys = [rng.randint(0, 5) for _ in range(n)]

        def sort_midranks(vals):
            order = sorted(range(len(vals)), key=lambda i: vals[i])
            out = [0.0] * len(vals)
            i = 0
            while i < len(order):
                j = i
                while j < len(order) and vals[order[j]] == vals[order[i]]:
                    j += 1
                mr = (i + 1 + j) / 2.0
                for k in range(i, j):
                    out[order[k]] = mr
                i = j
            return out

        # doubled mid-rank = exactly 2x the classic sort-based mid-rank
        assert [d / 2.0 for d in midranks(xs)] == sort_midranks(xs)
        assert [d / 2.0 for d in midranks(ys)] == sort_midranks(ys)


def test_mann_kendall_matches_bruteforce_and_inversion_count():
    """Second opinion for mann_kendall_trend: (1) S from the gate's
    pair-sign formulation vs an independent inversion-count derivation
    (S = concordant - discordant = n_pairs - 2*inversions - tied
    pairs adjustment); (2) the tie-corrected variance formula against
    direct enumeration over permutations is impractical, so instead
    pin the two standard identities: var18 with no ties equals
    n(n-1)(2n+5), and each tie group of size t removes exactly
    t(t-1)(2t+5)."""
    import random

    for seed in (5, 21, 33):
        rng = random.Random(seed)
        n = rng.randint(4, 40)
        xs = [rng.randint(0, 8) for _ in range(n)]  # tie-heavy
        # gate formulation
        s = sum(
            (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        # independent derivation: concordant - discordant via counts
        conc = sum(
            1 for i in range(n) for j in range(i + 1, n) if xs[j] > xs[i]
        )
        disc = sum(
            1 for i in range(n) for j in range(i + 1, n) if xs[j] < xs[i]
        )
        assert s == conc - disc
        # tie-corrected variance identities
        from collections import Counter

        tie = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(xs).values() if t > 1
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie
        assert var18 >= 0
        ys = rng.sample(range(10_000), n)  # tie-free
        tie_free_var18 = n * (n - 1) * (2 * n + 5) - sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(ys).values() if t > 1
        )
        assert tie_free_var18 == n * (n - 1) * (2 * n + 5)
        # monotone series maxes S at n(n-1)/2 exactly
        zs = list(range(n))
        s_max = sum(
            (1 if zs[j] > zs[i] else -1 if zs[j] < zs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        assert s_max == n * (n - 1) // 2


def test_cohens_kappa_integer_form_matches_probability_form():
    """Second opinion for rater_agreement_kappa: the cross-multiplied
    integer form (N*agree - pe2)/(N^2 - pe2) must equal the textbook
    probability form (po - pe)/(1 - pe) exactly (in Fractions) on
    randomized 2x2 tables, including the sign conventions for
    below-chance agreement and the perfect-agreement/independence
    anchor points."""
    import random
    from fractions import Fraction

    for seed in range(30):
        rng = random.Random(seed)
        n11, n10 = rng.randint(0, 50), rng.randint(0, 50)
        n01, n00 = rng.randint(0, 50), rng.randint(0, 50)
        n = n11 + n10 + n01 + n00
        if n == 0:
            continue
        pe2 = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        if n * n == pe2:
            continue  # degenerate marginals, filtered by the gate
        kappa_int = Fraction(n * (n11 + n00) - pe2, n * n - pe2)
        po = Fraction(n11 + n00, n)
        pe = Fraction(pe2, n * n)
        kappa_prob = (po - pe) / (1 - pe)
        assert kappa_int == kappa_prob, seed
    # anchors: perfect agreement -> 1; statistical independence -> 0
    assert Fraction(10 * (6 + 4) - (6 * 6 + 4 * 4), 100 - 52) == 1
    n11, n10, n01, n00 = 6, 6, 4, 4  # ra independent of rb
    n = 20
    pe2 = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
    assert n * (n11 + n00) - pe2 == 0


def test_jackknife_grouped_se_matches_pseudovalue_form():
    """Second opinion for jackknife_source_influence: the gate's
    cross-multiplied SE sqrt((g-1)(g*S2 - S1^2))/g must equal the
    textbook form sqrt((g-1)/g * sum((theta_j - theta_bar)^2)) exactly
    (compared as squared SE in Fractions), and the leave-one-out means
    must satisfy the reconstruction identity
    T - T_j = theta_j_exact * (n - n_j) on randomized grouped data."""
    import random
    from fractions import Fraction

    for seed in (2, 14, 38):
        rng = random.Random(seed)
        groups = {
            f"s{i}": [rng.randint(0, 300) for _ in range(rng.randint(1, 30))]
            for i in range(rng.randint(3, 15))
        }
        n = sum(len(v) for v in groups.values())
        t = sum(sum(v) for v in groups.values())
        thetas = []
        for k, v in groups.items():
            if n == len(v):
                continue
            th = Fraction(t - sum(v), n - len(v))
            # reconstruction identity
            assert (t - sum(v)) == th * (n - len(v))
            thetas.append(th)
        g = len(thetas)
        if g < 2:
            continue
        s1 = sum(thetas)
        s2 = sum(th * th for th in thetas)
        # gate form (squared): (g-1)(g*S2 - S1^2) / g^2
        se2_gate = Fraction((g - 1) * (g * s2 - s1 * s1), g * g)
        # textbook pseudo-value form
        tbar = s1 / g
        se2_text = Fraction(g - 1, g) * sum((th - tbar) ** 2 for th in thetas)
        assert se2_gate == se2_text, seed


def test_silhouette_squared_matches_per_point_reference():
    """Second opinion for silhouette_squared_report: the gate's
    group-mean/argmin formulation (floor-divided means, one division,
    micro rounding) must match an independent per-point loop reference
    on randomized labeled integer points, including the singleton-0
    and max(a,b)=0 conventions."""
    import random

    for seed in (4, 18, 44):
        rng = random.Random(seed)
        n, k, dim = rng.randint(6, 40), rng.randint(2, 5), 4
        pts = [
            tuple(rng.randint(-20, 20) for _ in range(dim)) for _ in range(n)
        ]
        lab = [rng.randrange(k) for _ in range(n)]

        def d2(i, j):
            return sum((a - b) ** 2 for a, b in zip(pts[i], pts[j]))

        # gate formulation: per (i, cluster) floor-mean, then a/b/s
        got = {}
        for i in range(n):
            means = {}
            for c in range(k):
                js = [j for j in range(n) if j != i and lab[j] == c]
                if js:
                    means[c] = sum(d2(i, j) for j in js) // len(js)
            a2 = means.get(lab[i])
            b2 = min(
                (m for c, m in means.items() if c != lab[i]), default=None
            )
            if a2 is None or b2 is None or max(a2, b2) == 0:
                got[i] = 0
            else:
                got[i] = round(1_000_000 * (b2 - a2) / max(a2, b2))

        # independent per-point loop reference (no dict-of-means pass)
        want = {}
        for i in range(n):
            own = [j for j in range(n) if j != i and lab[j] == lab[i]]
            if not own:
                want[i] = 0
                continue
            a2 = sum(d2(i, j) for j in own) // len(own)
            b2 = None
            for c in range(k):
                if c == lab[i]:
                    continue
                js = [j for j in range(n) if lab[j] == c]
                if js:
                    m = sum(d2(i, j) for j in js) // len(js)
                    b2 = m if b2 is None else min(b2, m)
            if b2 is None or max(a2, b2) == 0:
                want[i] = 0
            else:
                want[i] = round(1_000_000 * (b2 - a2) / max(a2, b2))
        assert got == want, seed
        # range sanity: squared-distance silhouette stays in [-1, 1]
        assert all(-1_000_000 <= v <= 1_000_000 for v in got.values())


def test_hubness_skewness_integer_form_matches_numpy():
    """Second opinion for ann_hubness_report: the cross-multiplied
    integer skewness (n^2*S3 - 3n*S2*S1 + 2*S1^3)/((n*S2 - S1^2)^1.5)
    must match numpy's population-moment g1 on randomized occurrence
    counts, and the k-occurrence bookkeeping (left-join zeros included)
    must conserve mass: sum of N_k over all vectors = k * n exactly."""
    import random

    import numpy as np

    for seed in (6, 25, 49):
        rng = random.Random(seed)
        n, k = rng.randint(10, 60), 4
        # simulate neighbor lists: each vector picks k distinct others
        occ = {i: 0 for i in range(n)}
        for i in range(n):
            for j in rng.sample([x for x in range(n) if x != i], k):
                occ[j] += 1
        xs = list(occ.values())
        assert sum(xs) == k * n  # mass conservation incl. zero-occ tail
        s1 = sum(xs)
        s2 = sum(x * x for x in xs)
        s3 = sum(x**3 for x in xs)
        m2n = n * s2 - s1 * s1
        if m2n == 0:
            continue
        m3n = n * n * s3 - 3 * n * s2 * s1 + 2 * s1**3
        got = m3n / (m2n * (m2n**0.5))
        a = np.array(xs, dtype=np.float64)
        m2 = ((a - a.mean()) ** 2).mean()
        m3 = ((a - a.mean()) ** 3).mean()
        want = m3 / m2**1.5
        assert abs(got - want) < 1e-9, seed


def test_cluster_validity_indices_match_fraction_reference():
    """Second opinion for cluster_validity_indices: (1) the micro-
    quantized DB pipeline (round each R_ij once, then integer max /
    floor-mean) must equal a Fraction-first reference that maxes the
    EXACT rationals before quantizing — rounding is monotone, so the
    two orders agree everywhere, not just off boundaries; (2) the
    cross-multiplied CH form B_num*(n-k) / (n^2*W*(k-1)) must equal
    the per-definition Fraction (B/(k-1))/(W/(n-k)) with the float
    mean centroid, via the identity n^2 * sum n_i*||c_i - S/n||^2
    == sum n_i*||n*c_i - S||^2."""
    import random
    from fractions import Fraction

    for seed in (7, 21, 63):
        rng = random.Random(seed)
        n, k, dim = rng.randint(8, 40), rng.randint(2, 5), 4
        pts = [
            tuple(rng.randint(-20, 20) for _ in range(dim)) for _ in range(n)
        ]
        cents = [
            tuple(rng.randint(-20, 20) for _ in range(dim)) for _ in range(k)
        ]
        # integer argmin assignment, lowest-cid ties (the gate's rule)
        def d2(p, c):
            return sum((a - b) ** 2 for a, b in zip(p, c))

        lab = [
            min(range(k), key=lambda c: (d2(p, cents[c]), c)) for p in pts
        ]
        members = {c: [i for i in range(n) if lab[i] == c] for c in range(k)}
        live = [c for c in range(k) if members[c]]
        k_eff = len(live)
        if k_eff < 2:
            continue
        s_i = {
            c: sum(d2(pts[i], cents[c]) for i in members[c])
            // len(members[c])
            for c in live
        }
        w = sum(d2(pts[i], cents[lab[i]]) for i in range(n))
        m2 = {
            (a, b): d2(cents[a], cents[b])
            for a in live
            for b in live
            if a != b
        }
        # pipeline: quantize each R_ij to micro, then max
        db_pipe = {}
        for a in live:
            rs = [
                round(1_000_000 * (s_i[a] + s_i[b]) / m2[(a, b)])
                for b in live
                if b != a and m2[(a, b)] > 0
            ]
            if rs:
                db_pipe[a] = max(rs)
        # reference: max the exact Fractions first, quantize once
        db_ref = {}
        for a in live:
            fr = [
                Fraction(s_i[a] + s_i[b], m2[(a, b)])
                for b in live
                if b != a and m2[(a, b)] > 0
            ]
            if fr:
                best = max(fr)
                db_ref[a] = round(
                    1_000_000 * best.numerator / best.denominator
                )
        assert db_pipe == db_ref, seed
        if db_pipe:
            assert sum(db_pipe.values()) // len(db_pipe) == sum(
                db_ref.values()
            ) // len(db_ref)

        # CH: cross-multiplied integer form vs per-definition Fraction
        if w == 0:
            continue
        s_vec = [
            sum(len(members[c]) * cents[c][d] for c in live)
            for d in range(dim)
        ]
        b_num = sum(
            len(members[c])
            * sum((n * cents[c][d] - s_vec[d]) ** 2 for d in range(dim))
            for c in live
        )
        got = Fraction(b_num * (n - k_eff), n * n * w * (k_eff - 1))
        cbar = [Fraction(s_vec[d], n) for d in range(dim)]
        b_frac = sum(
            len(members[c])
            * sum((cents[c][d] - cbar[d]) ** 2 for d in range(dim))
            for c in live
        )
        want = (b_frac / (k_eff - 1)) / Fraction(w, n - k_eff)
        assert got == want, seed


def test_kruskal_wallis_cleared_denominator_matches_classic_form():
    """Second opinion for kruskal_wallis_langs: the cleared-denominator
    integer form H = 3(N-1)*U / (Pi*(N(N^2-1)-T)) with doubled ranks
    (U = sum R'_g^2*(Pi/n_g) - N(N+1)^2*Pi) must equal the classic
    tie-corrected [12/(N(N+1)) * sum R_g^2/n_g - 3(N+1)] / (1 - T/(N^3-N))
    on sort-based half-rank midranks, exactly in rationals."""
    import random
    from fractions import Fraction

    def doubled_midranks(vals):
        return [
            2 * sum(1 for o in vals if o < v)
            + sum(1 for o in vals if o == v)
            + 1
            for v in vals
        ]

    for seed in (5, 17, 51):
        rng = random.Random(seed)
        k = rng.randint(2, 5)
        groups = [
            [rng.randint(0, 12) for _ in range(rng.randint(3, 15))]
            for _ in range(k)
        ]
        pooled = [v for g in groups for v in g]
        n = len(pooled)
        rr = doubled_midranks(pooled)
        # group doubled rank sums in pooled order
        rsums, sizes, i = [], [], 0
        for g in groups:
            rsums.append(sum(rr[i : i + len(g)]))
            sizes.append(len(g))
            i += len(g)
        t_term = sum(
            c * c * c - c
            for c in (pooled.count(v) for v in set(pooled))
        )
        pi = 1
        for s in sizes:
            pi *= s
        u = sum(
            r * r * (pi // s) for r, s in zip(rsums, sizes)
        ) - n * (n + 1) * (n + 1) * pi
        den = pi * (n * (n * n - 1) - t_term)
        if den <= 0:
            continue
        got = Fraction(3 * (n - 1) * u, den)

        # classic: half-rank midranks (doubled/2), float-form algebra
        plain = [Fraction(d, 2) for d in rr]
        rs, i = [], 0
        rsq = []
        for g in groups:
            rsq.append(sum(plain[i : i + len(g)]))
            i += len(g)
        h_raw = Fraction(12, n * (n + 1)) * sum(
            r * r / Fraction(s) for r, s in zip(rsq, sizes)
        ) - 3 * (n + 1)
        corr = 1 - Fraction(t_term, n**3 - n)
        assert corr > 0
        want = h_raw / corr
        assert got == want, seed


def test_levenshtein_builtin_matches_wagner_fischer(spark):
    """Second opinion for dedup_edit_distance_verify: Spark's and
    DuckDB's built-in levenshtein must both equal a python
    Wagner-Fischer DP (unit insert/delete/substitute) on randomized
    strings and on the adversarial shapes the gate cares about
    (prefix/suffix edits, transpositions, empty, full rewrite).
    Transposition must cost 2 (no Damerau extension on either engine)."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    def wf(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    cases = [
        ("kitten", "sitting"),
        ("abcdef", "abdcef"),  # transposition -> 2
        ("", "abc"),
        ("same", "same"),
        ("aaaa", "bbbb"),
    ]
    rng = random.Random(13)
    for _ in range(20):
        n1, n2 = rng.randint(0, 12), rng.randint(0, 12)
        cases.append(
            (
                "".join(rng.choice("abc ") for _ in range(n1)),
                "".join(rng.choice("abc ") for _ in range(n2)),
            )
        )
    con = duckdb.connect()
    for a, b in cases:
        want = wf(a, b)
        got = con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert got == want, (a, b, got, want)
    assert wf("abcdef", "abdcef") == 2
    sdf = spark.createDataFrame(cases, "a STRING, b STRING").select(
        "a", "b", F.levenshtein("a", "b").alias("lev")
    )
    for r in sdf.collect():
        assert r["lev"] == wf(r["a"], r["b"]), (r["a"], r["b"])

    # the reason the gate carries its ASCII guard (session-2 review):
    # DuckDB's levenshtein counts BYTES, Spark's counts CODEPOINTS — they
    # DIVERGE on multibyte text, so the verify domain must exclude it. If
    # a future DuckDB build makes this codepoint-based, this pin fails
    # and the guard can be reconsidered.
    duck_mb = con.execute(
        "SELECT levenshtein('中文字', '中字')"
    ).fetchone()[0]
    assert duck_mb == 3  # bytes (UTF-8, 3 bytes/char deleted)
    spark_mb = spark.createDataFrame(
        [("中文字", "中字")], "a STRING, b STRING"
    ).select(F.levenshtein("a", "b").alias("lev")).collect()[0]["lev"]
    assert spark_mb == 1  # codepoints
    assert duck_mb != spark_mb


def test_modularity_cleared_form_matches_fraction_definition():
    """Second opinion for community_modularity_report: the cleared
    integer form Q = sum(4m*e_c - d_c^2) / (4m^2) must equal Newman's
    per-definition Q = sum_c [e_c/m - (d_c/2m)^2] exactly in rationals
    on random labeled graphs, with degree-0 nodes present; and the
    bookkeeping identities sum(e_c) <= m and sum(d_c) = 2m must hold."""
    import random
    from fractions import Fraction

    for seed in (8, 23, 61):
        rng = random.Random(seed)
        n, k = rng.randint(6, 30), rng.randint(2, 5)
        lab = {i: rng.randrange(k) for i in range(n)}
        edges = set()
        for _ in range(rng.randint(0, 3 * n)):
            a, b = rng.sample(range(n), 2)
            edges.add((min(a, b), max(a, b)))
        m = len(edges)
        if m == 0:
            continue
        deg = {i: 0 for i in range(n)}
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        d_c = {c: sum(d for i, d in deg.items() if lab[i] == c) for c in range(k)}
        e_c = {
            c: sum(1 for a, b in edges if lab[a] == c and lab[b] == c)
            for c in range(k)
        }
        assert sum(d_c.values()) == 2 * m
        assert sum(e_c.values()) <= m
        got = Fraction(
            sum(4 * m * e_c[c] - d_c[c] * d_c[c] for c in range(k)),
            4 * m * m,
        )
        want = sum(
            Fraction(e_c[c], m) - Fraction(d_c[c], 2 * m) ** 2
            for c in range(k)
        )
        assert got == want, seed
        assert want <= 1


def test_confusion_ppm_pipeline_matches_sklearn_convention_mirror():
    """Second opinion for langid_confusion_report: the integer ppm
    pipeline (truncating division, quantize-then-combine F1, floor-mean
    macro-F1, zero_division=0 guards) must match an independent mirror
    that computes precision/recall as exact Fractions first and then
    applies the same declared quantization contract; and the standard
    identities must hold: sum(tp) <= N, per-class tp <= min(n_gold,
    n_pred), accuracy == micro-recall."""
    import random
    from fractions import Fraction

    for seed in (11, 29, 73):
        rng = random.Random(seed)
        classes = ["en", "de", "fr", "es", "zh"]
        n = rng.randint(10, 200)
        gold = [rng.choice(classes) for _ in range(n)]
        # prediction = gold with noise, plus an occasional 'unknown'
        pred = [
            g if rng.random() < 0.7
            else rng.choice(classes + ["unknown"])
            for g in gold
        ]
        rows = {}
        for c in sorted(set(gold)):
            n_gold = sum(1 for g in gold if g == c)
            n_pred = sum(1 for p in pred if p == c)
            tp = sum(1 for g, p in zip(gold, pred) if g == c and p == c)
            p_ppm = 1_000_000 * tp // max(n_pred, 1)
            r_ppm = 1_000_000 * tp // max(n_gold, 1)
            f1 = 2 * p_ppm * r_ppm // max(p_ppm + r_ppm, 1)
            rows[c] = (n_gold, n_pred, tp, p_ppm, r_ppm, f1)
            # mirror: Fractions first, then the same quantization contract
            pf = Fraction(tp, n_pred) if n_pred else Fraction(0)
            rf = Fraction(tp, n_gold) if n_gold else Fraction(0)
            assert p_ppm == (1_000_000 * pf.numerator) // pf.denominator
            assert r_ppm == (1_000_000 * rf.numerator) // rf.denominator
            assert tp <= min(n_gold, n_pred)
        total_tp = sum(r[2] for r in rows.values())
        total_gold = sum(r[0] for r in rows.values())
        assert total_gold == n and total_tp <= n
        acc = 1_000_000 * total_tp // n
        # accuracy == micro-averaged recall (gold classes partition the corpus)
        micro_r = 1_000_000 * sum(r[2] for r in rows.values()) // sum(
            r[0] for r in rows.values()
        )
        assert acc == micro_r
        macro = sum(r[5] for r in rows.values()) // len(rows)
        assert 0 <= macro <= 1_000_000


def test_kendall_tau_b_matches_bruteforce_and_pair_identity():
    """Second opinion for kendall_tau_hourly: the join-shaped C/D/tie
    bookkeeping must match a brute-force pair loop, satisfy the
    inclusion-exclusion identity C + D + (x-tied or y-tied pairs)
    = C(n,2), and the tau_b ratio must equal the textbook formula in
    exact rationals (compared as squared Fractions to avoid sqrt)."""
    import random
    from fractions import Fraction

    for seed in (10, 31, 77):
        rng = random.Random(seed)
        n = rng.randint(5, 40)
        xs = [rng.randint(0, 6) for _ in range(n)]
        ys = [rng.randint(0, 6) for _ in range(n)]
        c = d = both = xonly = yonly = 0
        for i in range(n):
            for j in range(i + 1, n):
                dx, dy = xs[j] - xs[i], ys[j] - ys[i]
                if dx == 0 and dy == 0:
                    both += 1
                elif dx == 0:
                    xonly += 1
                elif dy == 0:
                    yonly += 1
                elif (dx > 0) == (dy > 0):
                    c += 1
                else:
                    d += 1
        n0 = n * (n - 1) // 2
        assert c + d + both + xonly + yonly == n0, seed
        t1 = sum(
            t * (t - 1) // 2 for t in (xs.count(v) for v in set(xs))
        )
        t2 = sum(
            t * (t - 1) // 2 for t in (ys.count(v) for v in set(ys))
        )
        # x-tie pairs counted at value grain == x-tied pairs from the loop
        assert t1 == both + xonly, seed
        assert t2 == both + yonly, seed
        if n0 - t1 <= 0 or n0 - t2 <= 0:
            continue
        # tau_b^2 in exact rationals vs the pipeline's inputs
        got_sq = Fraction((c - d) ** 2, (n0 - t1) * (n0 - t2))
        # independent derivation from raw sign sums
        s = sum(
            (1 if (xs[j] - xs[i]) * (ys[j] - ys[i]) > 0 else
             -1 if (xs[j] - xs[i]) * (ys[j] - ys[i]) < 0 else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        assert s == c - d, seed
        assert got_sq == Fraction(s * s, (n0 - t1) * (n0 - t2))
        assert got_sq <= 1


def test_rbo_cleared_integer_form_matches_float_definition():
    """Second opinion for retrieval_rbo_report: the cleared-denominator
    integer form sum(w_nano_d * o_d * (2520/d)) / 2520e9 must match the
    per-definition float RBO@10 = (1-p) sum p^(d-1) * o_d / d within
    the nano-quantization error of the weights (< 1e-8 absolute), on
    random ranking pairs; and o_d must be non-decreasing in d with
    o_d <= d."""
    import random

    from pdf_brain_spark.gates.r11 import _RBO_DEN_NANO, _RBO_P_NANO

    p = 0.9
    for seed in (14, 37, 91):
        rng = random.Random(seed)
        ids = list(range(30))
        a = rng.sample(ids, 10)
        b = rng.sample(ids, 10)
        ranks_a = {v: i + 1 for i, v in enumerate(a)}
        ranks_b = {v: i + 1 for i, v in enumerate(b)}
        o = [
            sum(
                1
                for v in ranks_a
                if v in ranks_b and max(ranks_a[v], ranks_b[v]) <= d
            )
            for d in range(1, 11)
        ]
        for d in range(10):
            assert o[d] <= d + 1
            if d:
                assert o[d] >= o[d - 1]
        num = sum(
            w * o[d - 1] * (2520 // d)
            for d, w in enumerate(_RBO_P_NANO, start=1)
        )
        got = num / _RBO_DEN_NANO
        want = sum(
            (1 - p) * p ** (d - 1) * o[d - 1] / d for d in range(1, 11)
        )
        assert abs(got - want) < 1e-8, seed
        assert 0.0 <= got <= 1.0


def test_participation_ratio_matches_numpy_eigenvalues():
    """Second opinion for embedding_spectrum_report: the eigenvalue-free
    participation ratio (tr M)^2 / sum(M_ij^2) computed from the exact
    integer scatter M = n*G - s s^T must equal (sum lambda)^2 /
    sum(lambda^2) over numpy's eigenvalues of the same matrix (Frobenius
    identity), and the n^2 scaling must cancel (PR of M == PR of M/n^2)."""
    import random

    import numpy as np

    for seed in (12, 33, 85):
        rng = random.Random(seed)
        n, d = rng.randint(5, 40), rng.randint(2, 8)
        q = np.array(
            [[rng.randint(-50, 50) for _ in range(d)] for _ in range(n)],
            dtype=np.int64,
        )
        g = q.T @ q
        s = q.sum(axis=0)
        m = n * g - np.outer(s, s)  # n^2-scaled centered scatter, exact ints
        trace = int(np.trace(m))
        tsq = int((m.astype(object) ** 2).sum())
        if trace <= 0 or tsq <= 0:
            continue
        got = trace * trace / tsq
        lam = np.linalg.eigvalsh(m.astype(np.float64))
        want = lam.sum() ** 2 / (lam**2).sum()
        assert abs(got - want) < 1e-6 * max(1.0, want), seed
        assert 1.0 - 1e-9 <= got <= d + 1e-9
        # scale invariance: PR is identical on the unscaled covariance
        cov = m.astype(np.float64) / (n * n)
        want2 = np.trace(cov) ** 2 / (cov**2).sum()
        assert abs(got - want2) < 1e-6 * max(1.0, want2), seed


def test_yule_k_counts_of_counts_identity_and_float_mirror():
    """Second opinion for yule_k_by_source: the gate's direct Sum(c^2)
    form must equal Yule's counts-of-counts definition sum(m^2 * V_m)
    exactly in integers, and K = 1e4*(S2-N)/N^2 must match a float
    per-definition mirror; K is invariant under doubling the corpus
    (every count c -> 2c, N -> 2N leaves (S2-N)/N^2 scale by the known
    (4S2-2N)/4N^2 relation, checked explicitly)."""
    import random
    from collections import Counter

    for seed in (16, 41, 99):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(rng.randint(3, 30))]
        toks = [rng.choice(vocab) for _ in range(rng.randint(10, 500))]
        counts = Counter(toks)
        n = sum(counts.values())
        s2 = sum(c * c for c in counts.values())
        vm = Counter(counts.values())
        assert s2 == sum(m * m * v for m, v in vm.items()), seed
        got = 10000.0 * (s2 - n) / (float(n) * n)
        # float mirror straight from the definition
        want = 10000.0 * (sum(m * m * v for m, v in vm.items()) - n) / n**2
        assert got == want, seed
        assert got >= 0.0
        # doubling relation: counts 2c give S2'=4*S2, N'=2N
        got2 = 10000.0 * (4 * s2 - 2 * n) / (float(2 * n) * (2 * n))
        assert abs(got2 - 10000.0 * (4 * s2 - 2 * n) / (4.0 * n * n)) == 0.0


def test_periodogram_recovers_planted_sinusoid():
    """Second opinion for events_periodogram: on a synthetic hourly
    series with a planted 24h sinusoid (plus noise at other periods),
    the integer pipeline (cleared residual r = n*x - S, micro-quantized
    trig, 2*sqrt(A^2+B^2)/(n^2*1e6)) must (1) rank period 24 dominant,
    (2) recover the planted amplitude within the micro-trig + noise
    tolerance, and (3) match a float per-definition DFT mirror."""
    import math
    import random

    from pdf_brain_spark.gates.r11 import _PG_PERIODS, _PG_TRIG

    trig = {(P, p): (c, s) for P, p, c, s in _PG_TRIG}
    for seed in (19, 47):
        rng = random.Random(seed)
        n = 24 * 30
        amp_true = 5000  # cents
        xs = [
            100000
            + round(amp_true * math.cos(2 * math.pi * (t % 24) / 24))
            + rng.randint(-200, 200)
            for t in range(n)
        ]
        s = sum(xs)
        rs = [n * x - s for x in xs]
        amps = {}
        for P in _PG_PERIODS:
            a = sum(r * trig[(P, t % P)][0] for t, r in enumerate(rs))
            b = sum(r * trig[(P, t % P)][1] for t, r in enumerate(rs))
            amps[P] = 2.0 * math.sqrt(float(a) ** 2 + float(b) ** 2) / (
                float(n) * n * 1e6
            )
            # float per-definition mirror (exact trig, unscaled residuals)
            m = s / n
            fa = sum(
                (x - m) * math.cos(2 * math.pi * (t % P) / P)
                for t, x in enumerate(xs)
            )
            fb = sum(
                (x - m) * math.sin(2 * math.pi * (t % P) / P)
                for t, x in enumerate(xs)
            )
            want = 2.0 * math.hypot(fa, fb) / n
            assert abs(amps[P] - want) < 1e-3 * max(1.0, want) + 1.0, (seed, P)
        assert max(amps, key=lambda P: amps[P]) == 24, seed
        assert abs(amps[24] - amp_true) < 0.02 * amp_true, seed


def test_lca_set_intersection_matches_binary_prefix_closed_form():
    """Second opinion for taxonomy_lca_similarity: on the complete
    binary tree parent(k) = k // 2, the gate's set-intersection argmin
    (min d_a + d_b over common ancestors) must equal the binary
    common-prefix closed form (shift the larger until equal), the
    tree-distance identity d = (dr_a - dr_lca) + (dr_b - dr_lca) must
    hold, and Wu-Palmer 2000*dr_lca // (dr_a + dr_b) must stay in
    [0, 2000) — distinct nodes can't reach the identical-concept
    score."""
    import random

    def ancestors(x):
        out, d = {}, 0
        while True:
            out[x] = d
            if x <= 1:
                break
            x //= 2
            d += 1
        return out

    def lca_closed(a, b):
        while a != b:
            if a > b:
                a //= 2
            else:
                b //= 2
        return a

    rng = random.Random(20)
    for _ in range(200):
        a = rng.randint(2, 64)
        b = rng.randint(2, 64)
        if a == b:
            continue
        aa, ab = ancestors(a), ancestors(b)
        common = set(aa) & set(ab)
        assert common  # root 1 always shared
        got = min(common, key=lambda c: (aa[c] + ab[c], c))
        want = lca_closed(a, b)
        assert got == want, (a, b)
        dr = lambda x: len(bin(x)) - 3  # floor(log2 x) == depth from root
        assert aa[got] + ab[got] == (dr(a) - dr(got)) + (dr(b) - dr(got))
        wup = 2000 * dr(got) // (dr(a) + dr(b))
        assert 0 <= wup < 2000


def test_wilcoxon_doubled_rank_pipeline_matches_bruteforce():
    """Second opinion for wilcoxon_signed_rank: the doubled-mid-rank
    pipeline (zero-drop, |diff| histogram ranks, cleared var12, z in
    the (2W''-n(n+1))*sqrt(3)/sqrt(var12) form) must match a sort-based
    half-rank brute force with the textbook mean/variance, and the
    rank-sum identity W''+ + W''- = n(n+1) must hold."""
    import math
    import random

    for seed in (22, 59, 83):
        rng = random.Random(seed)
        diffs = [rng.randint(-6, 6) for _ in range(rng.randint(8, 40))]
        nz = [d for d in diffs if d != 0]
        n = len(nz)
        if n < 2:
            continue
        # pipeline: doubled midranks of |diff|
        def dr(v):
            return (
                2 * sum(1 for o in nz if abs(o) < abs(v))
                + sum(1 for o in nz if abs(o) == abs(v))
                + 1
            )

        wpp = sum(dr(v) for v in nz if v > 0)
        wpm = sum(dr(v) for v in nz if v < 0)
        assert wpp + wpm == n * (n + 1), seed
        from collections import Counter

        t_term = sum(
            c * c * c - c for c in Counter(abs(v) for v in nz).values()
        )
        var12 = 2 * n * (n + 1) * (2 * n + 1) - t_term
        if var12 <= 0:
            continue
        got = (2 * wpp - n * (n + 1)) * math.sqrt(3.0) / math.sqrt(var12)

        # brute force: classic half ranks, textbook moments
        order = sorted(range(n), key=lambda i: abs(nz[i]))
        ranks = [0.0] * n
        i = 0
        while i < n:
            j = i
            while j < n and abs(nz[order[j]]) == abs(nz[order[i]]):
                j += 1
            mr = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[order[k]] = mr
            i = j
        w_plus = sum(r for r, v in zip(ranks, nz) if v > 0)
        mean = n * (n + 1) / 4.0
        var = n * (n + 1) * (2 * n + 1) / 24.0 - t_term / 48.0
        want = (w_plus - mean) / math.sqrt(var)
        assert abs(got - want) < 1e-9, seed
        assert wpp == round(2 * w_plus), seed


def test_isotonic_minimax_matches_pava_pooling_loop():
    """Second opinion for isotonic_quality_calibration: (1) on exact
    Fractions, the minimax closed form fit_i = max_{j<=i} min_{k>=i}
    mean(y[j..k]) must equal a literal pool-adjacent-violators loop;
    (2) the quantize-then-minimax integer pipeline must be monotone and
    within one micro-unit of the exact fit; (3) pooled blocks must
    preserve total mass (sum w_i * fit_i == sum s_i in Fractions)."""
    import random
    from fractions import Fraction

    for seed in (26, 53, 88):
        rng = random.Random(seed)
        nb = rng.randint(3, 10)
        w = [rng.randint(1, 50) for _ in range(nb)]
        s = [rng.randint(0, wi) for wi in w]

        def interval_mean(j, k):
            return Fraction(sum(s[j : k + 1]), sum(w[j : k + 1]))

        minimax = [
            max(
                min(interval_mean(j, k) for k in range(i, nb))
                for j in range(i + 1)
            )
            for i in range(nb)
        ]

        # literal PAVA: pool adjacent violators until monotone
        blocks = [[Fraction(si), Fraction(wi)] for si, wi in zip(s, w)]
        i = 0
        while i + 1 < len(blocks):
            a, b = blocks[i], blocks[i + 1]
            if a[0] / a[1] > b[0] / b[1]:
                blocks[i] = [a[0] + b[0], a[1] + b[1]]
                del blocks[i + 1]
                i = max(i - 1, 0)
            else:
                i += 1
        # expand pooled blocks back to band grain by walking widths
        expanded = []
        bi = 0
        for i in range(nb):
            if Fraction(sum(w[: i + 1])) > sum(b[1] for b in blocks[: bi + 1]):
                bi += 1
            expanded.append(blocks[bi][0] / blocks[bi][1])
        assert expanded == minimax, seed

        # mass preservation
        assert sum(Fraction(wi) * f for wi, f in zip(w, expanded)) == sum(s)

        # quantized pipeline: monotone, within one micro of exact
        def q(j, k):
            return (1_000_000 * sum(s[j : k + 1])) // sum(w[j : k + 1])

        qfit = [
            max(min(q(j, k) for k in range(i, nb)) for j in range(i + 1))
            for i in range(nb)
        ]
        assert all(a <= b for a, b in zip(qfit, qfit[1:])), seed
        for qf, ef in zip(qfit, minimax):
            exact_micro = Fraction(1_000_000) * ef
            assert abs(Fraction(qf) - exact_micro) < 1, seed


def test_transition_entropy_identity_matches_float_mirror():
    """Second opinion for events_transition_entropy: the integer
    identity H(next|cur) = (sum c_f ln c_f - sum c_ft ln c_ft)/N must
    match the textbook -sum p(f,t) ln p(t|f) float mirror within the
    micro-nat rounding budget (each ln rounds once to micro, so error
    per term < 0.5 micro-nat and the weighted mean stays within ~1
    micro-nat), and per-state H must sit in [0, ln(successors)]."""
    import math
    import random
    from collections import Counter

    for seed in (28, 67, 94):
        rng = random.Random(seed)
        k = rng.randint(2, 6)
        seq = [rng.randrange(k) for _ in range(rng.randint(50, 500))]
        c = Counter(zip(seq, seq[1:]))
        cf = Counter(f for f, _ in c.elements())
        n = sum(c.values())

        def lm(x):
            return round(math.log(x) * 1_000_000)

        hnum = sum(cf[f] * lm(cf[f]) for f in cf) - sum(
            cij * lm(cij) for cij in c.values()
        )
        got = (hnum // n) / 1_000_000
        want = -sum(
            (cij / n) * math.log(cij / cf[f]) for (f, t), cij in c.items()
        )
        assert abs(got - want) < 2e-6 + 1e-12, seed
        for f in cf:
            succ = [cij for (ff, _), cij in c.items() if ff == f]
            hf = (
                cf[f] * lm(cf[f]) - sum(cij * lm(cij) for cij in succ)
            ) // cf[f]
            assert -2 <= hf <= round(math.log(max(len(succ), 1)) * 1e6) + 2, (
                seed,
                f,
            )


def test_cronbach_alpha_cleared_form_matches_textbook_fractions():
    """Second opinion for reliability_cronbach_alpha: the cleared form
    k*(V_tot - sum V_i) / ((k-1)*V_tot) on n^2-scaled integer variances
    must equal the textbook k/(k-1)*(1 - sum var_i/var_tot) in exact
    Fractions (the n^2 scale cancels in the ratio); identical items
    must give alpha == 1 exactly; independent-ish random items must
    keep alpha < 1."""
    import random
    from fractions import Fraction

    def vnum(xs):
        n = len(xs)
        return n * sum(x * x for x in xs) - sum(xs) ** 2

    for seed in (32, 71):
        rng = random.Random(seed)
        k, n = rng.randint(2, 6), rng.randint(5, 40)
        items = [
            [rng.randint(0, 1000) for _ in range(n)] for _ in range(k)
        ]
        v_items = [vnum(xs) for xs in items]
        totals = [sum(items[i][d] for i in range(k)) for d in range(n)]
        v_tot = vnum(totals)
        if v_tot == 0:
            continue
        got = Fraction(k * (v_tot - sum(v_items)), (k - 1) * v_tot)
        var = lambda xs: Fraction(vnum(xs), len(xs) ** 2)
        want = Fraction(k, k - 1) * (
            1 - sum(var(xs) for xs in items) / var(totals)
        )
        assert got == want, seed

        # identical items: alpha == 1 exactly (V_tot = k^2 * V_item)
        base = [rng.randint(0, 100) for _ in range(n)]
        if vnum(base) > 0:
            v_i = vnum(base)
            v_t = vnum([k * x for x in base])
            assert v_t == k * k * v_i
            assert Fraction(k * (v_t - k * v_i), (k - 1) * v_t) == 1


def test_mcnemar_chi2_matches_sign_test_z_squared_and_swap_symmetry():
    """Second opinion for mcnemar_rater_bias: chi2 = (n10-n01)^2 /
    (n10+n01) must equal the sign-test z^2 on the discordant pairs
    (z = (n10 - m/2)/sqrt(m/4) with m = n10+n01), and swapping the
    raters must leave chi2 fixed while negating the bias direction."""
    import random
    from fractions import Fraction

    for seed in (34, 79):
        rng = random.Random(seed)
        n10 = rng.randint(0, 50)
        n01 = rng.randint(0, 50)
        m = n10 + n01
        if m == 0:
            continue
        chi2 = Fraction((n10 - n01) ** 2, m)
        z_sq = Fraction((n10 - Fraction(m, 2)) ** 2, Fraction(m, 4))
        assert chi2 == z_sq, seed
        chi2_swapped = Fraction((n01 - n10) ** 2, m)
        assert chi2 == chi2_swapped
        assert (n10 - n01) == -(n01 - n10)


def test_runs_test_cleared_z_matches_textbook_and_groupby_runs():
    """Second opinion for runs_test_daily: run counting by lag-compare
    must equal itertools.groupby, and the cleared z form
    (n(n-1)(Rn - p2 - n)) / (n * sqrt(p2(p2-n)(n-1))) must equal the
    textbook (R - mu)/sigma with mu = p2/n + 1,
    var = p2(p2-n)/(n^2(n-1))."""
    import itertools
    import math
    import random

    for seed in (38, 86):
        rng = random.Random(seed)
        signs = [rng.choice([1, -1]) for _ in range(rng.randint(5, 60))]
        r_groupby = sum(1 for _ in itertools.groupby(signs))
        r_lag = sum(
            1
            for i, s in enumerate(signs)
            if i == 0 or s != signs[i - 1]
        )
        assert r_lag == r_groupby, seed
        n_up = signs.count(1)
        n_down = signs.count(-1)
        n = len(signs)
        p2 = 2 * n_up * n_down
        if n_up == 0 or n_down == 0 or p2 * (p2 - n) * (n - 1) <= 0:
            continue
        got = (n * (n - 1) * (r_lag * n - p2 - n)) / (
            n * math.sqrt(p2 * (p2 - n) * (n - 1))
        )
        mu = p2 / n + 1
        var = p2 * (p2 - n) / (n * n * (n - 1))
        want = (r_lag - mu) / math.sqrt(var)
        assert abs(got - want) < 1e-9, seed


def test_kw_product_fold_neutral_element_survives_single_group():
    """Session-2 review fix pin for kruskal_wallis_langs: the oracle's
    product fold appends a neutral 1 so a single-group corpus (empty
    other-groups list) yields product 1 instead of DuckDB's
    'list_reduce on empty input' error — matching Spark's aggregate
    init. Both the neutral identity and the crash-without-it are
    pinned."""
    import duckdb
    import pytest as _pytest

    con = duckdb.connect()
    ok = con.execute(
        "SELECT list_reduce(list_append(CAST([] AS HUGEINT[]), "
        "CAST(1 AS HUGEINT)), (a, b) -> a * b)"
    ).fetchone()[0]
    assert ok == 1
    with _pytest.raises(Exception, match="empty"):
        con.execute(
            "SELECT list_reduce(CAST([] AS HUGEINT[]), (a, b) -> a * b)"
        ).fetchone()
    # and the neutral never changes a non-empty product
    full = con.execute(
        "SELECT list_reduce(list_append(CAST([3, 5] AS HUGEINT[]), "
        "CAST(1 AS HUGEINT)), (a, b) -> a * b)"
    ).fetchone()[0]
    assert full == 15


def test_sprt_integer_llr_matches_float_walk_and_wald_semantics():
    """Second opinion for events_sprt_audit: the integer micro-nat
    cumulative LLR must track the float per-definition walk within the
    rounding budget (2 increments/day, each off by < 0.5 micro), the
    boundary semantics must be Wald's (first crossing is absorbing in
    the reported decision day), and a run generated AT p1 must drift
    up while a run AT p0 drifts down (in expectation, checked on a
    long horizon)."""
    import math
    import random

    from pdf_brain_spark.gates.r11 import (
        _SPRT_A_MICRO,
        _SPRT_B_MICRO,
        _SPRT_P0,
        _SPRT_P1,
    )

    a_f = math.log(_SPRT_P1 / _SPRT_P0)
    b_f = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    for seed, p_true in ((44, _SPRT_P0), (45, _SPRT_P1)):
        rng = random.Random(seed)
        days = [
            (n := rng.randint(50, 400), sum(
                1 for _ in range(n) if rng.random() < p_true
            ))
            for _ in range(400)
        ]
        cum_i, cum_f, total = 0, 0.0, 0
        for n, n1 in days:
            cum_i += n1 * _SPRT_A_MICRO + (n - n1) * _SPRT_B_MICRO
            cum_f += n1 * a_f + (n - n1) * b_f
            total += n
            assert abs(cum_i / 1e6 - cum_f) <= total * 5e-7 + 1e-9
        if p_true == _SPRT_P1:
            assert cum_i > 0
        else:
            assert cum_i < 0


def test_holm_cumulative_min_matches_literal_stepdown_loop():
    """Second opinion for multiple_testing_holm: the cumulative-min
    window formulation must equal a literal Holm step-down loop on
    random z vectors, and z-scale ordering must equal p-scale ordering
    (two-sided p is strictly decreasing in |z|)."""
    import random
    import statistics

    from pdf_brain_spark.gates.r11 import _HOLM_ALPHA, _HOLM_M, _HOLM_Z

    nd = statistics.NormalDist()
    for seed in (48, 92):
        rng = random.Random(seed)
        zs = [rng.uniform(-4, 4) for _ in range(_HOLM_M)]
        order = sorted(range(_HOLM_M), key=lambda i: -abs(zs[i]))
        # literal step-down on p values
        rejected_loop = [False] * _HOLM_M
        for rank, i in enumerate(order, start=1):
            p = 2 * (1 - nd.cdf(abs(zs[i])))
            if p <= _HOLM_ALPHA / (_HOLM_M - rank + 1):
                rejected_loop[i] = True
            else:
                break
        # gate formulation: threshold compare + cumulative AND
        raw = [
            abs(zs[i]) >= _HOLM_Z[rank - 1]
            for rank, i in enumerate(order, start=1)
        ]
        cum = []
        acc = True
        for r in raw:
            acc = acc and r
            cum.append(acc)
        rejected_gate = [False] * _HOLM_M
        for rank, i in enumerate(order, start=1):
            rejected_gate[i] = cum[rank - 1]
        assert rejected_gate == rejected_loop, seed
        # p-ordering == |z|-ordering
        ps = [2 * (1 - nd.cdf(abs(z))) for z in zs]
        assert sorted(range(_HOLM_M), key=lambda i: ps[i]) == sorted(
            range(_HOLM_M), key=lambda i: -abs(zs[i])
        )


def test_chow_cleared_rss_matches_residual_loop_and_f_mirror():
    """Second opinion for chow_test_revenue_break: the cleared-moment
    RSS (Syy_c*Sxx_c - Sxy_c^2)/(n*Sxx_c) must equal a literal
    least-squares residual loop in exact Fractions, and the F statistic
    must match a float per-definition mirror."""
    import random
    from fractions import Fraction

    def rss_cleared(pts):
        n = len(pts)
        sx = sum(t for t, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(t * t for t, _ in pts)
        sxy = sum(t * y for t, y in pts)
        syy = sum(y * y for _, y in pts)
        sxx_c = n * sxx - sx * sx
        sxy_c = n * sxy - sx * sy
        syy_c = n * syy - sy * sy
        if sxx_c == 0:
            return None
        return Fraction(syy_c * sxx_c - sxy_c * sxy_c, n * sxx_c)

    def rss_loop(pts):
        n = len(pts)
        sx = Fraction(sum(t for t, _ in pts))
        sy = Fraction(sum(y for _, y in pts))
        sxx_c = n * sum(t * t for t, _ in pts) - sx * sx
        if sxx_c == 0:
            return None
        beta = Fraction(
            n * sum(t * y for t, y in pts) - sx * sy, sxx_c
        )
        alpha = (sy - beta * sx) / n
        return sum((y - alpha - beta * t) ** 2 for t, y in pts)

    for seed in (52, 96):
        rng = random.Random(seed)
        n = rng.randint(8, 40)
        pts = [(t, rng.randint(0, 500)) for t in range(n)]
        assert rss_cleared(pts) == rss_loop(pts), seed
        m = n // 2
        r1, r2, rp = (
            rss_cleared(pts[:m]),
            rss_cleared(pts[m:]),
            rss_cleared(pts),
        )
        # note: segment 2's t values keep their global offset; an OLS
        # line is translation-invariant in x, so RSS is unchanged
        if None in (r1, r2, rp) or r1 + r2 == 0 or n <= 4:
            continue
        got = (float(rp - r1 - r2) / 2) / (float(r1 + r2) / (n - 4))
        want = ((float(rp) - float(r1) - float(r2)) / 2) / (
            (float(r1) + float(r2)) / (n - 4)
        )
        assert abs(got - want) < 1e-9, seed
        assert rp >= r1 + r2 - Fraction(1, 10**12)  # pooling can't fit better


def test_interleave_prefix_balance_and_bijectivity():
    """Second opinion for training_order_interleave: position =
    (intra_rank-1)*n_sources + sidx is a bijection into 0..N-1 when all
    sources are equal-sized, and ANY prefix of length k*n_sources
    contains exactly k docs per source (the balance invariant)."""
    import random

    for seed in (56, 98):
        rng = random.Random(seed)
        n_sources = rng.randint(2, 8)
        per = rng.randint(3, 12)
        positions = {}
        for sidx in range(n_sources):
            for rank in range(1, per + 1):
                pos = (rank - 1) * n_sources + sidx
                assert pos not in positions
                positions[pos] = sidx
        assert sorted(positions) == list(range(n_sources * per))
        for k in range(1, per + 1):
            prefix = [positions[p] for p in range(k * n_sources)]
            for sidx in range(n_sources):
                assert prefix.count(sidx) == k, (seed, k, sidx)


def test_lift_curve_identities_on_random_labels():
    """Second opinion for quality_lift_curve: on random (score, label)
    data the cleared-form lift must satisfy lift == (cum_pos/cum_docs)
    / (P/N) within truncation, recall must be non-decreasing along the
    sweep, full-depth precision must equal the base rate exactly, and
    full-depth lift must be exactly 1000 milli."""
    import random
    from fractions import Fraction

    for seed in (58, 93):
        rng = random.Random(seed)
        rows = [
            (rng.randint(3000, 7000), rng.random() < 0.4)
            for _ in range(rng.randint(20, 300))
        ]
        n = len(rows)
        p = sum(1 for _, lab in rows if lab)
        if p == 0:
            continue
        values = sorted({s for s, _ in rows}, reverse=True)
        cum_d = cum_p = 0
        prev_recall = -1
        for v in values:
            cum_d += sum(1 for s, _ in rows if s == v)
            cum_p += sum(1 for s, lab in rows if s == v and lab)
            lift = (1000 * cum_p * n) // (cum_d * p)
            exact = Fraction(cum_p, cum_d) / Fraction(p, n)
            assert lift == (1000 * exact.numerator) // exact.denominator
            recall = (1_000_000 * cum_p) // p
            assert recall >= prev_recall
            prev_recall = recall
        assert cum_d == n and cum_p == p
        assert (1_000_000 * cum_p) // cum_d == (1_000_000 * p) // n
        assert (1000 * cum_p * n) // (cum_d * p) == 1000


def test_resnik_lin_pipeline_matches_float_definition():
    """Second opinion for taxonomy_resnik_lin: on the dense binary tree
    1..64, the micro-nat pipeline (pre-rounded ln per node, IC = L(N) -
    L(subtree), Resnik = IC(lca), Lin by milli division) must match the
    float per-definition mirror within the rounding budget; IC must be
    non-increasing along ancestor chains; Lin must sit in [0, 1000]
    with Lin == 1000 iff... never for distinct a < b (their LCA is a
    strict ancestor of at least one, so IC(lca) < max(IC))."""
    import math
    import random

    nodes = list(range(1, 65))

    def subtree(c):
        out, frontier = 0, [c]
        while frontier:
            x = frontier.pop()
            if x <= 64:
                out += 1
                frontier += [2 * x, 2 * x + 1]
        return out

    sizes = {c: subtree(c) for c in nodes}
    n = len(nodes)
    lm = lambda x: round(math.log(x) * 1_000_000)
    ic = {c: lm(n) - lm(sizes[c]) for c in nodes}

    def lca(a, b):
        while a != b:
            if a > b:
                a //= 2
            else:
                b //= 2
        return a

    rng = random.Random(62)
    for _ in range(300):
        a, b = rng.randint(2, 64), rng.randint(2, 64)
        if a == b:
            continue
        l = lca(a, b)
        resnik = ic[l]
        want_resnik = math.log(n / sizes[l])
        assert abs(resnik / 1e6 - want_resnik) < 2e-6
        den = ic[a] + ic[b]
        assert den > 0
        lin = 2000 * resnik // den
        want_lin = 2 * want_resnik / (
            math.log(n / sizes[a]) + math.log(n / sizes[b])
        )
        assert abs(lin / 1000 - want_lin) < 1e-3 + 1e-9, (a, b)
        assert 0 <= lin < 2000
        # IC non-increasing toward the root
        x = a
        while x > 1:
            assert ic[x] >= ic[x // 2]
            x //= 2


def test_little_law_sweep_area_equals_duration_sum():
    """Second opinion for sessions_little_law_audit: on random interval
    sets (nested, disjoint, tied-boundary, zero-length), the sweep-line
    area under the concurrency step function must equal the summed
    durations EXACTLY (the finite-window Little identity), with deltas
    pre-aggregated per instant; and L = area/span must sit in
    [0, max concurrency]."""
    import random

    for seed in (64, 97):
        rng = random.Random(seed)
        ivs = []
        for _ in range(rng.randint(1, 60)):
            s = rng.randint(0, 1000)
            ivs.append((s, s + rng.randint(0, 200)))  # may be zero-length
        deltas = {}
        for s, e in ivs:
            deltas[s] = deltas.get(s, 0) + 1
            deltas[e] = deltas.get(e, 0) - 1
        pts = sorted(deltas)
        run = area = 0
        peak = 0
        for i, t in enumerate(pts):
            run += deltas[t]
            peak = max(peak, run)
            if i + 1 < len(pts):
                area += run * (pts[i + 1] - t)
        want = sum(e - s for s, e in ivs)
        assert area == want, seed
        span = max(e for _, e in ivs) - min(s for s, _ in ivs)
        if span > 0:
            l_micro = 1_000_000 * area // span
            assert 0 <= l_micro <= peak * 1_000_000
