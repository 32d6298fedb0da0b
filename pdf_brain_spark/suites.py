"""Suite gates: one driver row verifies a whole family of surfaces.

Each suite in SUITE_PLAN runs every member's full Spark plan and its full
DuckDB oracle, canonicalizes both results to a shared (gate, rn, c1..cW)
string schema, and union-alls them tagged by member name, so one driver
row hash-verifies every member's oracle parity.

Invariants:
  - A member stays registered under its own name, runnable standalone
    through ``lookup_query()`` / ``lookup_oracle()`` and
    ``tests/oracle_harness.py``. ``register_suites`` adds each suite as
    one more surface beside its members; the driver view
    (``queries.get_queries()``) lists the suite in their place.
  - Each member is in exactly one suite and has a canon spec in
    suite_specs.py.
  - A suite's oracle embeds each member's oracle text unchanged.

Canonicalization (the cross-engine string forms both engines agree on,
derived from the attested pairs' schemas by tools/gen_suite_specs.py and
frozen in suite_specs.py):

  i  integer-like / boolean / equal-scale decimal -> CAST AS VARCHAR
  s  string                                        -> CAST AS VARCHAR
  d  date                                          -> CAST AS VARCHAR
  f  float/double (house policy: 6dp-pre-rounded or low-precision) ->
     exact micro-unit integer string, round(x*1e6) AS BIGINT. NOT
     printf: Java %f formats the SHORTEST decimal repr zero-padded
     while C/DuckDB expand the exact binary value, so printed 6th
     decimals diverge on wide-magnitude sums; the integer form is
     engine-identical on bit-identical doubles and collapses -0.0
  ts timestamp -> epoch microseconds as VARCHAR (unix_micros/epoch_us;
     string-rendering of timestamps differs between engines, micros
     never do)
  j  array/struct -> to_json

Row order inside a member: row_number over the canonicalized string
tuple (binary collation both engines, NULLS FIRST pinned). Ties are
identical full rows, so any tie assignment yields the same row multiset.
The row_number is a single-partition window over a BOUNDED member
result (reports/top-k), wrapped in bounded_axis so an exploding member
result raises loudly instead of sorting the world in one task.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_brain_spark.functions.guards import bounded_axis
from pdf_brain_spark.registry import lookup_oracle, lookup_query, query
from pdf_brain_spark.suite_specs import SUITE_SPECS

# ---------------------------------------------------------------------------
# The suite plan: suite -> members, each member in exactly one suite.
# ---------------------------------------------------------------------------
SUITE_PLAN: dict[str, list[str]] = {
    # classic TPC-H shapes (the 15 never-driver-attested singles + Q2)
    "suite_tpch_a": [
        "tpch_q4_priority_exists", "tpch_q6_forecast_revenue",
        "tpch_q8_market_share", "tpch_q9_product_profit",
        "tpch_q11_important_parts",
    ],
    "suite_tpch_b": [
        "tpch_q12_ship_priority_class", "tpch_q13_customer_distribution",
        "tpch_q15_top_supplier", "tpch_q16_supplier_part_counts",
        "tpch_q17_small_quantity_revenue",
    ],
    "suite_tpch_c": [
        "tpch_q18_large_orders", "tpch_q19_disjunctive_revenue",
        "tpch_q20_dominant_suppliers", "tpch_q21_waiting_suppliers",
        "tpch_q22_idle_customers",
    ],
    # relational core beyond the numbered queries
    "suite_relational_core": [
        "cheapest_supplier_per_part", "grouping_sets_pricing",
        "fk_integrity_audit", "sql_interface_topk",
        "events_unpivot_metrics", "data_quality_expectations",
    ],
    # rank / nonparametric statistics (mann_whitney_u moved to
    # suite_nonparametric_tests at r12 per the pre-specified
    # COVERAGE.md consolidation plan — the rank-test family lives
    # together so a shared-device regression fails one suite by name)
    "suite_rank_stats": [
        "ks_two_sample", "chi_square_independence",
        "quality_signal_auc", "benford_digit_audit", "events_ab_test",
    ],
    # robust / inferential statistics
    "suite_robust_stats": [
        "theil_sen_trend", "did_estimate", "bootstrap_mean_ci",
        "nation_revenue_trend", "decision_stump_fit",
        "conversion_wilson_ci",
    ],
    # time-series recursions and seasonality (events_periodogram JOINED
    # at r14 per the pre-specified COVERAGE.md fold — the frequency-domain
    # seasonality member next to the moving-average decomposition)
    "suite_timeseries_recursions": [
        "events_cusum_drift", "events_ewma_hourly", "holt_linear_forecast",
        "seasonal_decompose_ma", "events_hourly_seasonality",
        "events_seasonal_anomalies", "events_periodogram",
    ],
    # time-series alignment / downsampling / intervals
    # (events_transition_entropy JOINED at r14: the Markov-chain
    # predictability rate lives with the sequence-alignment family)
    "suite_timeseries_alignment": [
        "events_m4_downsample", "events_lead_lag_correlation",
        "events_anomaly_mad", "events_asof_forward",
        "interval_overlap_join", "supplier_peak_inflight",
        "events_transition_entropy",
    ],
    # BI: concentration and decomposition
    "suite_bi_concentration": [
        "customer_pareto_share", "nation_supplier_hhi",
        "nation_customer_gini", "abc_xyz_classification",
        "revenue_bridge_decomposition", "revenue_cagr_by_segment",
    ],
    # BI: customer lifecycle (sessions_little_law_audit JOINED at r14:
    # the queueing consistency check rides with the session-grain family)
    "suite_customer_lifecycle": [
        "customer_rfm_segments", "cohort_ltv_curves",
        "session_survival_curve", "churn_feature_matrix",
        "conversion_latency_quantiles", "shipping_sla_report",
        "retention_decay_fit", "sessions_little_law_audit",
    ],
    # attribution and experiment design
    "suite_attribution_sampling": [
        "events_ushape_attribution", "time_decay_attribution",
        "psi_drift_report", "stratified_neyman_sample",
        "stratified_kfold_report", "quantile_normalization",
    ],
    # market-basket and co-purchase graph
    "suite_basket": [
        "market_basket_lift", "basket_triples", "basket_rules_confidence",
        "adamic_adar_pairs", "part_skyline", "part_cooccurrence_triangles",
    ],
    # graph algorithms over the taxonomy / co-occurrence graphs (the
    # taxonomy LCA/IC similarity pair JOINED at r14: both run over the
    # same closure device as shortest-paths/subtree-rollup)
    "suite_graph": [
        "hits_hub_authority", "label_propagation_communities",
        "taxonomy_shortest_paths", "taxonomy_subtree_rollup",
        "taxonomy_lca_similarity", "taxonomy_resnik_lin",
    ],
    # training-data quality gates (quality_lift_curve JOINED at r14: the
    # threshold-picking operating table for the same quality score)
    "suite_text_quality": [
        "gopher_quality_rules", "flesch_reading_ease",
        "bigram_surprisal_filter", "quality_linear_classifier",
        "dsir_importance_weights", "quality_lift_curve",
    ],
    # language / tokenizer corpus management (langid_confusion_report
    # JOINED at r14: the per-class eval of the same lang-id heuristic)
    "suite_lang_tokenizer": [
        "lang_rebalance_plan", "oov_rate_report",
        "tokenizer_fertility_report", "temperature_sampling_weights",
        "naive_bayes_lang_id", "langid_confusion_report",
    ],
    # corpus term statistics (yule_k_by_source JOINED at r14: the
    # lexical-richness constant next to TTR/Zipf/Heaps)
    "suite_term_stats": [
        "source_token_entropy", "source_term_jsd",
        "distinctive_terms_logodds", "zipf_fit_report", "heaps_law_fit",
        "term_pmi_pairs", "g2_collocations", "yule_k_by_source",
    ],
    # fingerprinting and fuzzy dedup (dedup_edit_distance_verify JOINED
    # at r14: the third dedup verifier rides with the banding family)
    "suite_fingerprint_dedup": [
        "winnowing_fingerprints", "dedup_containment",
        "dedup_threshold_curve", "part_name_fuzzy_pairs",
        "part_name_merge_groups", "tfidf_cosine_pairs", "semdedup_report",
        "dedup_edit_distance_verify",
    ],
    # embedding-column analytics
    "suite_embedding_analytics": [
        "embedding_power_iteration", "embedding_pca_top2",
        "random_projection_jl", "embedding_drift_report",
        "cosine_label_calibration", "matryoshka_truncation_report",
    ],
    # ANN / retrieval serving and eval (mmr_rerank + mmr_rerank_batch
    # JOINED at r15 per the pre-specified COVERAGE.md fold: their first
    # post-r13-rewrite named rows landed in CORRECTNESS_r14, so the
    # diversity re-rankers now re-verify inside the serving family
    # every round)
    "suite_ann_serving": [
        "kmeans_assign", "hamming_ann_batch64", "prefiltered_ann_topk",
        "knn_label_eval", "retrieval_eval_ndcg", "bm25f_search",
        "mmr_rerank", "mmr_rerank_batch",
    ],
    # streaming mergeable-partials monoids (each member is a real
    # AvailableNow run against its generation store;
    # streaming_incremental_novelty JOINED at r13 — the min-struct
    # first-seen monoid is the sixth member of the incremental family)
    "suite_streaming_monoids": [
        "streaming_incremental_kmv", "streaming_incremental_regression",
        "streaming_incremental_bitmap", "streaming_incremental_cms",
        "streaming_incremental_minhash", "streaming_incremental_novelty",
    ],
    # streaming lifecycle / temporal-dimension correctness
    # (directory_discovery_scan + cluster_assignment_sink_roundtrip
    # JOINED at r13: the S6 discovery/exactly-once restart and the S11
    # upsert-sink attestations are lifecycle surfaces, so the whole
    # scan/sink lifecycle re-verifies in one suite row every round)
    "suite_streaming_lifecycle": [
        "fts_compacted_lifecycle", "streaming_rollup_write_travel",
        "streaming_late_data_drop", "cdc_apply_changelog",
        "scd2_point_in_time_join", "directory_discovery_scan",
        "cluster_assignment_sink_roundtrip",
    ],
    # corpus-scale sketches, filters, and multimodal plumbing
    "suite_corpus_ops": [
        "bpe_merge_candidates", "kmv_distinct_estimate",
        "bloom_semijoin_audit", "source_contamination_matrix",
        "multimodal_audio_windows", "multimodal_frame_decode",
        "multimodal_audio_resample",
    ],
    # the deterministic exact-integer clustering lifecycle (VERDICT r10
    # item 2): fit → summaries → softmax → BIC → full composed report;
    # each member independently oracled r9/r10 and driver-green before
    # consolidation (kmeans_assign already lives in suite_ann_serving)
    "suite_clustering_lifecycle": [
        "kmeans_fit_2iter", "kmeans_clusters", "soft_clustering",
        "bic_model_selection", "clustering_model_report",
    ],
    # sampling / curation selection family (VERDICT r10 item 2):
    # weighted without-replacement, submodular coverage, stratified,
    # mixture-targeted, and curriculum ordering
    "suite_sampling": [
        "weighted_reservoir_sample", "coverage_maximizing_sample",
        "stratified_sample_per_source", "domain_mixture_sample",
        "curriculum_ordering",
    ],
    # r12 consolidation (VERDICT r11 item 1; pre-specified in
    # COVERAGE.md): the seven rank/sign statistics sharing the
    # doubled-mid-rank value-histogram + cleared-variance devices —
    # one suite row re-verifies the whole family every round
    "suite_nonparametric_tests": [
        "spearman_hourly_rho", "mann_kendall_trend", "kendall_tau_hourly",
        "wilcoxon_signed_rank", "kruskal_wallis_langs", "runs_test_daily",
        "mann_whitney_u",
    ],
    # r12 consolidation: the four structure-quality evals over the
    # pinned deterministic fits/samples
    "suite_cluster_quality": [
        "silhouette_squared_report", "cluster_validity_indices",
        "community_modularity_report", "ann_hubness_report",
    ],
    # r12 consolidation (extends the pre-specified plan to drain the
    # r13 queue): the inference/reliability audit family — rater
    # agreement + marginal bias on the SAME rater pair, composite
    # reliability, sequential/multiple testing, structural break, and
    # the grouped-jackknife influence SE
    "suite_inferential_audits": [
        "rater_agreement_kappa", "mcnemar_rater_bias",
        "reliability_cronbach_alpha", "events_sprt_audit",
        "multiple_testing_holm", "chow_test_revenue_break",
        "jackknife_source_influence",
    ],
    # r13 consolidation (VERDICT r12 item 2, the judge's named family
    # lists): the language-model corpus-planning family — smoothing
    # (KN, Good-Turing), tokenizer construction (BPE), token-budget
    # allocation (waterfill), model shrinking (pruning curve), crawl
    # novelty, and per-language fertility. All members held 1-2 driver
    # rows as singles before consolidating; riding the suite re-verifies
    # each EVERY round instead of freezing at two.
    "suite_lm_planning": [
        "kneser_ney_heldout", "good_turing_trigram", "bpe_merge_steps",
        "token_budget_waterfill", "lm_pruning_curve",
        "ngram_novelty_curve", "tokenizer_fertility_by_lang",
    ],
    # r13 consolidation (VERDICT r12 item 2's exact list): the
    # calibration / ranking-eval family — ECE banding, PAVA isotonic
    # fit, margin-kNN rank correction, RBO rank agreement, spectrum
    # effective-rank, and the interleaved training order. Four members
    # (isotonic/RBO/spectrum/interleave) come from the r13 queue and
    # earn their first driver row through the suite row, the
    # suite_inferential_audits precedent.
    "suite_calibration_eval": [
        "soft_calibration_ece", "isotonic_quality_calibration",
        "margin_knn_alignment", "retrieval_rbo_report",
        "embedding_spectrum_report", "training_order_interleave",
    ],
    # r13 consolidation (VERDICT r12 item 2: "the remaining corpus
    # singles"): corpus profiling/audit reports — profile sketch,
    # packing boundaries, quantile calibration, the quality×dup grid,
    # MinHash estimator calibration, shard balance, dup-rate curve,
    # transitivity audit, systematic resample, PQ compression, and the
    # P6/P7 sanitize/tiny-filter report
    "suite_corpus_audit": [
        "corpus_profile_sketch", "packing_boundary_report",
        "cross_source_quantile_calibration", "quality_dedup_grid",
        "minhash_estimator_calibration", "shard_balance_report",
        "ngram_dup_rate_curve", "dedup_transitivity_audit",
        "systematic_mixture_resample", "pq_compression_report",
        "sanitize_tiny_filter_report",
    ],
}

# The micro-unit bound: round(x*1e6) must fit BIGINT, i.e. |x| <
# 2^63/1e6 ~ 9.223e12. Outside it Spark's non-ANSI long cast would NULL
# while DuckDB CAST raises — an asymmetric, confusing hash mismatch.
# The Spark side therefore asserts the bound BY NAME (welded into the
# consumed expression, the bounded_axis play); the DuckDB side's own
# CAST error is already loud. 9.2e12 is the conservative round number
# (attested members top out ~3e10).
F_CANON_BOUND = 9.2e12

_F_BOUND_MSG = (
    f"suite float canonicalizer: |value| >= {F_CANON_BOUND:.1e} overflows "
    "the micro-unit BIGINT form (round(x*1e6)); pre-scale the member "
    "column (emit kilo/mega units) or canonicalize it as a string"
)


def _f_canon_spark(c):
    # NaN/Inf first: Spark round(NaN*1e6).cast('long') yields NULL while
    # DuckDB CAST(round(NaN) AS BIGINT) raises — an asymmetric failure.
    # Both engines map the non-finite values to the same sentinel strings
    # instead (ADVICE r9).
    d = c.cast("double")
    finite = F.when(
        F.assert_true(F.abs(d) < F.lit(F_CANON_BOUND), F.lit(_F_BOUND_MSG)).isNull(),
        F.round(d * F.lit(1000000.0)).cast("long").cast("string"),
    )
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(F.isnan(d), F.lit("NaN"))
        .when(d == F.lit(float("inf")), F.lit("Inf"))
        .when(d == F.lit(float("-inf")), F.lit("-Inf"))
        .otherwise(finite)
    )


_KIND_SPARK: dict[str, Callable] = {
    "i": lambda c: c.cast("string"),
    "s": lambda c: c.cast("string"),
    "d": lambda c: c.cast("string"),
    # micro-unit integers, NOT printf: Java's %f formats a double's
    # SHORTEST decimal repr padded with zeros while C/DuckDB expand the
    # exact binary value, so the two diverge in the 6th decimal whenever
    # the shortest repr is shorter than the exact expansion (bit at sf0.1
    # on grouping_sets_pricing's 13-significant-digit sums). Both engines
    # compute round(x*1e6) identically on bit-identical doubles (members
    # emit 6dp-pre-rounded or low-precision values, so x*1e6 is never
    # near a .5 boundary), and the integer form also collapses -0.0.
    # NaN/±Inf map to sentinel strings on BOTH engines; |x| beyond
    # F_CANON_BOUND raises by name on the Spark side (see _f_canon_spark).
    "f": _f_canon_spark,
    # cast first: unix_micros rejects TIMESTAMP_NTZ, and with the session
    # timezone pinned to UTC (session.py) the NTZ->TIMESTAMP cast is a
    # micros-identity
    "ts": lambda c: F.unix_micros(c.cast("timestamp")).cast("string"),
    "j": lambda c: F.to_json(c),
}

_KIND_SQL: dict[str, str] = {
    "i": 'CAST({c} AS VARCHAR)',
    "s": 'CAST({c} AS VARCHAR)',
    "d": 'CAST({c} AS VARCHAR)',
    "f": (
        "CASE WHEN {c} IS NULL THEN NULL "
        "WHEN isnan(CAST({c} AS DOUBLE)) THEN 'NaN' "
        "WHEN isinf(CAST({c} AS DOUBLE)) THEN "
        "(CASE WHEN CAST({c} AS DOUBLE) > 0 THEN 'Inf' ELSE '-Inf' END) "
        "ELSE CAST(CAST(round(CAST({c} AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR) END"
    ),
    "ts": 'CAST(epoch_us(CAST({c} AS TIMESTAMP)) AS VARCHAR)',
    "j": 'CAST(to_json({c}) AS VARCHAR)',
}


def suite_width(suite: str) -> int:
    return max(len(SUITE_SPECS[m]) for m in SUITE_PLAN[suite])


def _canon_member_df(df: DataFrame, member: str, width: int) -> DataFrame:
    spec = SUITE_SPECS[member]
    canon = [
        _KIND_SPARK[kind](F.col(col)).alias(f"c{i + 1}")
        for i, (col, kind) in enumerate(spec)
    ]
    proj = df.select(*canon)
    order = [F.col(f"c{i + 1}").asc_nulls_first() for i in range(len(spec))]
    rn = bounded_axis(
        F.row_number().over(Window.orderBy(*order)).cast("long"),
        order,
        f"suite member '{member}' result",
        safe_alternative="a suite member must emit a bounded report; "
        "attest oversized members standalone instead",
    )
    pad = [
        F.lit(None).cast("string").alias(f"c{j + 1}")
        for j in range(len(spec), width)
    ]
    return proj.select(
        F.lit(member).alias("gate"),
        rn.alias("rn"),
        *[F.col(f"c{i + 1}") for i in range(len(spec))],
        *pad,
    )


def _member_oracle_sql(member: str, oracle: str, width: int) -> str:
    spec = SUITE_SPECS[member]
    canon = ", ".join(
        _KIND_SQL[kind].format(c=f'"{col}"') + f" AS c{i + 1}"
        for i, (col, kind) in enumerate(spec)
    )
    order = ", ".join(
        f"c{i + 1} ASC NULLS FIRST" for i in range(len(spec))
    )
    pad = "".join(
        f", CAST(NULL AS VARCHAR) AS c{j + 1}" for j in range(len(spec), width)
    )
    cols = ", ".join(f"c{i + 1}" for i in range(len(spec)))
    return (
        f"SELECT '{member}' AS gate, "
        f"CAST(row_number() OVER (ORDER BY {order}) AS BIGINT) AS rn, "
        f"{cols}{pad} FROM "
        f"(SELECT {canon} FROM ({oracle}) __m) __c"
    )


def _suite_oracle_sql(suite: str) -> str:
    width = suite_width(suite)
    parts = [
        _member_oracle_sql(m, lookup_oracle(m), width) for m in SUITE_PLAN[suite]
    ]
    body = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM (\n{body}\n) __s ORDER BY gate, rn"


def _term_stats_shared_inputs(spark: SparkSession, sf_dir: str) -> dict:
    """ONE tokenize pass + ONE (source, term, c) occurrence aggregate
    feeding all 8 suite_term_stats members (r17 optimization, guide
    §2.4: the suite previously re-tokenized the whole corpus once PER
    member — 8 scans of `documents` for one suite row). Both tables are
    exact-integer identical to what each member's fallback path computes
    (the members assert the schemas they consume), so every member's
    result — and the suite hash — is unchanged; the standalone member
    gates (oracle harness, lookup_query by name) still run their own
    fallback pipelines with unchanged plans.

    100 TB posture (same deliberate trade as pmi_pairs, VERDICT r16
    item 7): `localCheckpoint` pins the token arrays and the counts to
    executor storage for the life of the suite query — 8 corpus passes
    → 1 is what matters at every scale; on executor loss the suite
    fails fast instead of recomputing. A reliable `spark.checkpoint`
    dir is the production alternative."""
    from pdf_brain_spark.functions.text import tokenize
    from pdf_brain_spark.sources.loaders import load_table

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", "source", tokenize("text").alias("_toks")
    ).localCheckpoint(eager=True)
    counts = (
        toks.select("source", F.explode("_toks").alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    return {
        "source_token_entropy": {"shared_counts": counts},
        "source_term_jsd": {"shared_counts": counts},
        "zipf_fit_report": {"shared_counts": counts},
        "heaps_law_fit": {"shared_counts": counts},
        "yule_k_by_source": {"shared_counts": counts},
        "term_pmi_pairs": {"shared_toks": toks},
        "g2_collocations": {"shared_toks": toks},
        "distinctive_terms_logodds": {"shared_toks": toks},
    }


# Suites whose members share an expensive common input: the builder runs
# once per suite invocation (inside the timed region — nothing persists
# across runs) and returns per-member extra kwargs.
SUITE_SHARED_INPUTS: dict[str, Callable] = {
    "suite_term_stats": _term_stats_shared_inputs,
}


def _make_suite_fn(suite: str):
    members = SUITE_PLAN[suite]
    shared_builder = SUITE_SHARED_INPUTS.get(suite)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        width = suite_width(suite)
        shared = shared_builder(spark, sf_dir) if shared_builder else {}
        # r17 (guide §2.6 + §7.3): member construction is driver-side
        # work — thousands of serial py4j round-trips per suite (7.6k
        # measured for suite_term_stats, ~3 s of an ~4.5 s gate) plus
        # any member-internal driver jobs (fits, checkpoints). Build
        # the member plans from a small thread pool; plan construction
        # only touches thread-safe py4j/Catalyst surfaces and the
        # resulting union is assembled in the fixed SUITE_PLAN order,
        # so the output is unchanged. A/B (suite_term_stats, sf0.1,
        # same session, 2 reps): seq 4.0-5.5 s → par 2.9-3.5 s.
        with ThreadPoolExecutor(max_workers=min(8, len(members))) as ex:
            parts = list(
                ex.map(
                    lambda m: _canon_member_df(
                        lookup_query(m)(spark, sf_dir, **shared.get(m, {})),
                        m,
                        width,
                    ),
                    members,
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # Terminal sort: (gate, rn) is a unique key of the union (rn is
        # a per-member global row_number), so coalesce(1) + a within-
        # partition sort yields the IDENTICAL total order orderBy gave,
        # without orderBy's range-partitioner sampling job — which
        # re-executed every member subtree end-to-end once before the
        # real run (§2.4's "orderBy used only to make output
        # deterministic" trap; same fix as dedup_edit_distance_verify
        # r16). Each member is already single-partition above (the
        # bounded row_number window), so the coalesce merges 1-row-ish
        # partitions, never wide work.
        return out.coalesce(1).sortWithinPartitions("gate", "rn")

    fn.__name__ = suite
    fn.__doc__ = (
        f"Suite gate: union-canonicalized oracle parity for "
        f"{len(members)} consolidated members: {', '.join(members)}. "
        f"See pdf_brain_spark/suites.py."
    )
    return fn


def register_suites() -> None:
    """Register one suite surface per SUITE_PLAN family, in SUITE_PLAN
    order. Every member must already be registered."""
    for suite in SUITE_PLAN:
        query(suite, _suite_oracle_sql(suite))(_make_suite_fn(suite))
