"""Suite-gate machinery (round 9 consolidation): registry invariants,
lookup resolution, and the union-canonicalization's structural
guarantees. Oracle parity itself is attested by tests/oracle_harness.py
at three scales (the driver-mirror path); these tests pin the plumbing."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_registry_invariants():
    from pdf_brain_spark.queries import (
        CONSOLIDATED,
        GATE_WINDOW,
        ORACLES,
        QUERIES,
        lookup_oracle,
        lookup_query,
    )
    from pdf_brain_spark.suites import SUITE_PLAN

    # window is the first 50 registered, exactly
    assert list(QUERIES)[:50] == GATE_WINDOW and len(GATE_WINDOW) == 50
    # every suite is registered with an oracle; every member consolidated
    members = [m for ms in SUITE_PLAN.values() for m in ms]
    assert len(members) == len(set(members)) == len(CONSOLIDATED)
    for s in SUITE_PLAN:
        assert s in QUERIES and s in ORACLES
    for m in members:
        # members are verified inside their suite's row, never standalone
        assert m not in QUERIES and m not in ORACLES
        assert callable(lookup_query(m))
        assert isinstance(lookup_oracle(m), str)
        fn, sql, suite = CONSOLIDATED[m]
        assert suite in SUITE_PLAN and m in SUITE_PLAN[suite]
        # the member's full oracle text is embedded in its suite's oracle
        assert sql.strip() in ORACLES[suite]


def test_gate_window_is_fixed():
    """The window is a constant: the 30 suites in SUITE_PLAN order, then
    20 named standalone gates (11 flagship spares and 9 gates on the
    shared kernels' and the benchmark's paths), none a suite member."""
    from pdf_brain_spark.queries import CONSOLIDATED, GATE_WINDOW
    from pdf_brain_spark.suites import SUITE_PLAN

    assert GATE_WINDOW[:30] == list(SUITE_PLAN)
    assert GATE_WINDOW[30:] == [
        "vector_topk", "fts_bm25", "hybrid_search",
        "vector_similarity_join", "transitive_closure",
        "context_expansion", "multiscale_retrieval", "chunk_pipeline",
        "events_percentiles", "library_stats", "llm_enrichment",
        "doc_repetition_filter", "benchmark_contamination",
        "dedup_ngram_jaccard", "hamming_ann_batch16",
        "reciprocal_nearest_neighbors", "ann_recall_report",
        "events_sessionize", "tpch_q3_shipping_priority",
        "streaming_incremental_fts",
    ]
    assert not set(GATE_WINDOW) & set(CONSOLIDATED)


def test_registry_pinned_counts():
    """VERDICT r10 item 7: the registry counts are PINNED per round so
    any registration path that bypasses @query's duplicate guard (or a
    collision the guard can't see, e.g. a suite name shadowing a gate)
    is caught by a count audit, the way the r10 near-miss was. Update
    these three numbers deliberately, in the same commit that changes
    the registry — a drive-by drift here is the bug this test exists
    to catch. Current state: 183 driver-facing gates, 192
    suite-consolidated members across 30 suites = 375 named surfaces."""
    from pdf_brain_spark.queries import CONSOLIDATED, ORACLES, QUERIES
    from pdf_brain_spark.suites import SUITE_PLAN

    assert len(QUERIES) == 183
    assert len(ORACLES) == 183
    assert len(CONSOLIDATED) == 192
    assert len(SUITE_PLAN) == 30
    assert len(QUERIES) + len(CONSOLIDATED) == 375


def test_streaming_gates_share_the_replay_harness():
    """One stream-replay skeleton: under pdf_brain_spark/gates/ the file
    source's maxFilesPerTrigger appears only in the harness and the
    late-data gate (three staged dirs, a memory sink), and queries.py
    hoists no gate module's names into its own namespace."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_brain_spark"
    holders = {}
    for path in sorted((pkg / "gates").glob("*.py")):
        n = path.read_text().count("maxFilesPerTrigger")
        if n:
            holders[path.name] = n
    assert holders == {"replay.py": 1, "r8_corpus_b.py": 1}, holders
    late = (pkg / "gates" / "r8_corpus_b.py").read_text()
    start = late.index("def streaming_late_data_drop(")
    end = late.index("\n@query(", start)
    assert "maxFilesPerTrigger" in late[start:end]
    assert "globals()[" not in (pkg / "queries.py").read_text()


def test_membership_history_latest_snapshot_matches_current_plan():
    """The per-round membership history (ADVICE r13: suite-green
    inheritance must be round-aware) stays in sync: the LATEST snapshot
    in tools/suite_membership_history.json equals current SUITE_PLAN, so
    a fold committed without `never_attested.py --snapshot N` fails here
    instead of silently under-inheriting in the audit."""
    import json
    import os

    from pdf_brain_spark.suites import SUITE_PLAN

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "suite_membership_history.json")
    with open(path) as f:
        hist = json.load(f)
    latest = hist[str(max(int(k) for k in hist))]
    assert latest == {s: list(ms) for s, ms in SUITE_PLAN.items()}


def test_lookup_query_unknown_name_raises():
    from pdf_brain_spark.queries import lookup_query

    with pytest.raises(KeyError):
        lookup_query("no_such_gate_anywhere")


@pytest.mark.parametrize("suite", ["suite_rank_stats", "suite_lm_planning"])
def test_suite_rows_equal_member_rows(spark, suite):
    """A suite emits exactly one canonicalized row per member result row
    (nothing dropped, nothing duplicated), tagged by member name, with
    rn a 1..n_member permutation — pinned for one r9-era suite and one
    r13 steady-state suite."""
    from pdf_brain_spark.queries import CONSOLIDATED, get_queries
    from pdf_brain_spark.suites import SUITE_PLAN

    out = get_queries()[suite](spark, SF).collect()
    by_gate = {}
    for r in out:
        by_gate.setdefault(r["gate"], []).append(r["rn"])
    assert set(by_gate) == set(SUITE_PLAN[suite])
    for m in SUITE_PLAN[suite]:
        n = CONSOLIDATED[m][0](spark, SF).count()
        assert sorted(by_gate[m]) == list(range(1, n + 1)), m


def test_suite_canonical_schema_is_all_strings(spark):
    from pdf_brain_spark.queries import get_queries
    from pdf_brain_spark.suites import SUITE_PLAN, suite_width

    suite = "suite_bi_concentration"
    df = get_queries()[suite](spark, SF)
    w = suite_width(suite)
    assert df.columns == ["gate", "rn"] + [f"c{i + 1}" for i in range(w)]
    types = dict(df.dtypes)
    assert types["gate"] == "string" and types["rn"] == "bigint"
    assert all(types[f"c{i + 1}"] == "string" for i in range(w))


def test_bench_headline_keys_all_resolve():
    import bench
    from pdf_brain_spark.queries import lookup_query

    for n in bench.HEADLINE:
        assert callable(lookup_query(n)), n


def test_bench_probe_class_covers_every_key():
    """Every emitted bench key carries a workload-class probe tag and no
    tag is stale (VERDICT r13 item 2 + ADVICE r13): the freeze-to-freeze
    deflation needs zero judge-side inference."""
    import bench

    emitted = set(bench.HEADLINE) | set(bench.BATCH_KEYS)
    assert set(bench.PROBE_CLASS) == emitted
    valid = {
        "scan_sum_200m_sec", "shuffle_groupby_4m_sec",
        "shuffle_window_2stage_sec", "blas_mapinpandas_256kx64_sec",
        "parquet_scan_8m_sec",
    }
    assert set(bench.PROBE_CLASS.values()) <= valid


def test_bench_median_rule_drops_warmup():
    """The r15 sampling rule (VERDICT r14 item 2): 4 samples, median of
    the LAST 3 — the first (warm-up) sample must not move the median;
    shorter arrays (heavy keys) keep median-over-all."""
    import bench

    assert bench.N_SAMPLES == 4
    # the r14 exhibit, extended to 4 samples: warm-up first
    assert bench._median_rule([5.46, 3.1, 5.78, 3.12]) == 3.12
    # warm-up sample is excluded even if it is the smallest
    assert bench._median_rule([0.1, 2.0, 3.0, 4.0]) == 3.0
    # <4 samples: median over all (single-shot and min-of-2 keys)
    assert bench._median_rule([2.0]) == 2.0
    assert bench._median_rule([1.0, 3.0, 2.0]) == 2.0


def test_install_suites_is_idempotent():
    """A second install_suites over the already-consolidated registry is
    a no-op, not an AssertionError (ADVICE r9)."""
    from pdf_brain_spark import queries as q
    from pdf_brain_spark.suites import install_suites

    before = list(q.QUERIES)
    install_suites(q.QUERIES, q.ORACLES, q.CONSOLIDATED)
    assert list(q.QUERIES) == before


def test_float_canon_nan_inf_sentinels_match_both_engines(spark):
    """NaN/±Inf canonicalize to the SAME sentinel strings on Spark and
    DuckDB (ADVICE r9: previously Spark NULLed while DuckDB raised —
    an asymmetric failure); finite values keep the micro-unit form."""
    import duckdb

    from pdf_brain_spark.suites import _KIND_SPARK, _KIND_SQL

    vals = [
        float("nan"), float("inf"), float("-inf"),
        1.25, -0.0, None, 3e10,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [
        r["c"] for r in df.select(_KIND_SPARK["f"](F.col("x")).alias("c")).collect()
    ]
    con = duckdb.connect()
    lits = [
        "NULL" if v is None else f"CAST('{v}' AS DOUBLE)" for v in vals
    ]
    rows = "), (".join(f"{i}, {lit}" for i, lit in enumerate(lits))
    expr = _KIND_SQL["f"].format(c='"x"')
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {expr} FROM (VALUES ({rows})) AS t(i, x) ORDER BY i"
        ).fetchall()
    ]
    assert got_spark == got_duck
    assert got_spark[:3] == ["NaN", "Inf", "-Inf"]
    assert got_spark[3:] == ["1250000", "0", None, "30000000000000000"]


def test_float_canon_overflow_raises_by_name(spark):
    """A member value beyond the micro-unit BIGINT bound raises a named
    error on the Spark side instead of NULLing into a hash mismatch
    (VERDICT r9 'what's wrong' #2)."""
    from pdf_brain_spark.suites import _KIND_SPARK

    df = spark.createDataFrame([(9.3e12,)], "x double")
    with pytest.raises(Exception, match="micro-unit BIGINT"):
        df.select(_KIND_SPARK["f"](F.col("x")).alias("c")).collect()


def test_no_source_file_regrows_past_8k_lines():
    """VERDICT r11 item 5's Done criterion, pinned: the r12 split keeps
    every non-test source file under 8k lines (queries.py had reached
    26.4k). New gates go in the era/family module they belong to; when
    a module approaches the cap, split it rather than bumping this."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    offenders = []
    for path in glob.glob(os.path.join(root, "pdf_brain_spark", "**", "*.py"),
                          recursive=True):
        n = sum(1 for _ in open(path, encoding="utf-8"))
        if n > 8000:
            offenders.append((os.path.relpath(path, root), n))
    assert not offenders, offenders
