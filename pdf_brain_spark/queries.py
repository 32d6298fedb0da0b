"""Query registry facade: every implemented operator from SURVEY.md §2 (and
the beyond-reference families) is registered here as a named
(spark, sf_dir) -> DataFrame callable plus (where SQL-expressible) an
ANSI-SQL oracle twin that DuckDB runs over the same parquet tables.

The registry dicts + @query decorator live in pdf_brain_spark/registry.py
and the gate definitions in pdf_brain_spark/gates/*, imported below IN
REGISTRATION ORDER so the @query side effects fill QUERIES/ORACLES in a
fixed order. This module exports the registry API only; gate functions
and their helpers are imported from the gates module that defines them.

Naming rule: every computed column is aliased identically in the Spark
plan and the oracle SQL — the driver hash-compares values after sorting
columns by name.

Float policy: scores/aggregates that involve floating-point reductions
are rounded to 6 decimals on BOTH sides so engine-level summation-order
noise does not flip the value hash.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Gate modules, imported IN REGISTRATION ORDER: each import's @query side
# effects append to the shared registry dicts.
import pdf_brain_spark.gates.core  # noqa: F401
import pdf_brain_spark.gates.quality_temporal  # noqa: F401
import pdf_brain_spark.gates.composites  # noqa: F401
import pdf_brain_spark.gates.r8_corpus_a  # noqa: F401
import pdf_brain_spark.gates.r8_corpus_b  # noqa: F401
import pdf_brain_spark.gates.r9_r10  # noqa: F401
import pdf_brain_spark.gates.r11  # noqa: F401
from pdf_brain_spark.registry import (  # noqa: F401  (public re-exports)
    CONSOLIDATED,
    ORACLES,
    QUERIES,
    lookup_oracle,
    lookup_query,
    query,
)

# Driver gate window: the correctness harness verifies the FIRST 50
# registered queries, so these are moved to the front of the registry.
GATE_WINDOW = [
    # the 30 consolidation suites (192 members; suites.py SUITE_PLAN)
    "suite_tpch_a", "suite_tpch_b", "suite_tpch_c",
    "suite_relational_core", "suite_rank_stats", "suite_robust_stats",
    "suite_timeseries_recursions", "suite_timeseries_alignment",
    "suite_bi_concentration", "suite_customer_lifecycle",
    "suite_attribution_sampling", "suite_basket", "suite_graph",
    "suite_text_quality", "suite_lang_tokenizer", "suite_term_stats",
    "suite_fingerprint_dedup", "suite_embedding_analytics",
    "suite_ann_serving", "suite_streaming_monoids",
    "suite_streaming_lifecycle", "suite_corpus_ops",
    "suite_clustering_lifecycle", "suite_sampling",
    "suite_nonparametric_tests", "suite_cluster_quality",
    "suite_inferential_audits", "suite_lm_planning",
    "suite_calibration_eval", "suite_corpus_audit",
    # the 11 flagship spares: the SURVEY §2 reference-parity core
    "vector_topk", "fts_bm25", "hybrid_search",
    "vector_similarity_join", "transitive_closure",
    "context_expansion", "multiscale_retrieval", "chunk_pipeline",
    "events_percentiles", "library_stats", "llm_enrichment",
    # 9 fixed standalone gates: the ones that run the shared scan, dedup
    # and batched top-k kernels, plus the gates the benchmark times
    "doc_repetition_filter", "benchmark_contamination",
    "dedup_ngram_jaccard", "hamming_ann_batch16",
    "reciprocal_nearest_neighbors", "ann_recall_report",
    "events_sessionize", "tpch_q3_shipping_priority",
    "streaming_incremental_fts",
]


def _reorder_registry() -> None:
    # Reorders IN PLACE (clear+update, not rebinding): registry.py, the
    # gates modules, and suites.py all hold references to the SAME dict
    # objects, so a rebinding here would fork the registry into an
    # ordered copy and a stale original (the split-file hazard).
    missing = [n for n in GATE_WINDOW if n not in QUERIES]
    if missing:
        raise AssertionError(f"GATE_WINDOW references unregistered queries: {missing}")
    if len(GATE_WINDOW) != 50:
        raise AssertionError(f"GATE_WINDOW must have exactly 50 entries, has {len(GATE_WINDOW)}")
    gate = set(GATE_WINDOW)
    tail = [n for n in QUERIES if n not in gate]
    ordered = GATE_WINDOW + tail
    q = {n: QUERIES[n] for n in ordered}
    o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    QUERIES.clear()
    QUERIES.update(q)
    ORACLES.clear()
    ORACLES.update(o)


# Suite consolidation (VERDICT r8 item 1) runs BEFORE the window reorder:
# SUITE_PLAN members move into CONSOLIDATED and one suite gate per family
# registers in their place. SPARK_GRAFT_NO_SUITES=1 exposes the raw
# registry (tools/gen_suite_specs.py needs the members before suites
# exist; the GATE_WINDOW check is skipped with it, since the window names
# suite gates).
if not os.environ.get("SPARK_GRAFT_NO_SUITES"):
    from pdf_brain_spark.suites import install_suites

    install_suites(QUERIES, ORACLES, CONSOLIDATED)
    _reorder_registry()


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def get_oracles() -> dict[str, str]:
    return dict(ORACLES)
