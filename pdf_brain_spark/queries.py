"""The driver view of the surface registry.

Importing this module registers every surface: the gate modules
(``pdf_brain_spark.gates``, in registration order), then one suite
surface per SUITE_PLAN family (``suites.register_suites``). The one
registry is ``registry.SURFACES``, name -> (fn, oracle); this module
exports its lookups and derives the driver view from it, once:

  - the driver view is GATE_WINDOW, then every other registered surface
    that is neither a suite member nor in the window, in registration
    order;
  - its first 50 names are exactly GATE_WINDOW;
  - every suite member is reachable through ``lookup_query()`` /
    ``lookup_oracle()`` and is verified inside its suite's driver row.

Gate functions and their helpers are imported from the gates module
that defines them.

Naming rule: every computed column is aliased identically in the Spark
plan and the oracle SQL — the driver hash-compares values after sorting
columns by name.

Float policy: scores/aggregates that involve floating-point reductions
are rounded to 6 decimals on BOTH sides so engine-level summation-order
noise does not flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import pdf_brain_spark.gates  # noqa: F401  (registers every gate and suite member)
from pdf_brain_spark.registry import (  # noqa: F401  (public re-exports)
    SURFACES,
    lookup_oracle,
    lookup_query,
    query,
)
from pdf_brain_spark.suites import SUITE_PLAN, register_suites

register_suites()

# Driver gate window: the correctness harness verifies the FIRST 50
# driver gates, so the driver view lists these first.
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


_SUITE_MEMBERS = {m for members in SUITE_PLAN.values() for m in members}
_DRIVER = GATE_WINDOW + [
    n for n in SURFACES if n not in _SUITE_MEMBERS and n not in GATE_WINDOW
]


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: lookup_query(n) for n in _DRIVER}


def get_oracles() -> dict[str, str]:
    return {n: lookup_oracle(n) for n in _DRIVER}
