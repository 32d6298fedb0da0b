"""Code-level scale guards (VERDICT r8 item 4).

A handful of gates compute windows with ``Window.orderBy(...)`` and NO
``partitionBy`` — a deliberate gate-exactness choice over axes that are
structurally bounded (distinct cent values, day buckets, a vocabulary,
a top-k shortlist). At 100 TB the failure mode of that choice is a
silent single-partition sort on an exploded axis. These helpers make it
LOUD instead: every unpartitioned window wires a row_number() over the
SAME single-partition sort (so the guard shares the exchange and the
sort — zero extra passes, zero extra actions) and raises at execution
time if the axis exceeds the bound, naming the scale-safe alternative.

The bound is per-site overridable; the default is far above any
attested axis (the largest real one is the distinct-cents axis, ~2e5 at
sf0.1) and far below where a single-partition sort would hurt an
executor (~1e6 rows of scalar tuples ≈ tens of MB).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

AXIS_BOUND = 1_000_000

# The vocabulary-broadcast ceiling (VERDICT r14 item 5): the LM-family
# gates FORCE-broadcast term/bigram-type-grain model tables back onto
# token streams on the Heaps-law argument (type count is sublinear in
# corpus size — exponent ~0.5 measured by this repo's own heaps_law_fit
# gate — so at 100 TB the type table is ~1e7-1e8 rows = low GB, inside
# Spark's broadcast ceiling, and the hint is the right plan: a map-side
# hash join beats shuffling the token-grain fact). This bound pins that
# assumption mechanically: 20M type rows (~2 GB at ~100 B/row) is
# comfortably inside the 8 GB JVM broadcast limit, so a corpus that
# violates sublinearity fails HERE, by name, with the remedy in the
# message — not inside Spark's broadcast machinery.
BROADCAST_ROWS_BOUND = 20_000_000

BROADCAST_REMEDY = (
    "drop the F.broadcast hint at this site — the join key is already "
    "the natural shuffle key, so the sort-merge fallback plan is the "
    "plan you would write by hand at that scale"
)


def bounded_axis(
    value: Column,
    order_cols,
    what: str,
    bound: int = AXIS_BOUND,
    safe_alternative: str = "partition the window or pre-aggregate the axis",
) -> Column:
    """Weld a bounded-axis assertion into a global-window expression.

    ``value`` is the windowed expression the site actually wants;
    ``order_cols`` is the SAME ordering its window uses (so the guard's
    row_number shares the single-partition exchange and sort). Returns
    ``value`` unchanged while the axis holds ≤ ``bound`` rows; raises a
    SparkRuntimeException naming the site and the scale-safe variant the
    moment it does not. The assert is woven INTO the consumed expression
    (a dropped guard column would be pruned by Catalyst and never run).

    A WORKING exemplar of the partition-and-stitch rewrite every
    ``safe_alternative`` describes ships in
    gates/r11.py::sessions_little_law_audit (r12): partition the axis by
    coarse time, run the prefix sum per partition, carry the per-
    partition aggregate through a coarse-grain cumulative window, and
    stitch the partition edges by joining each partition's successor's
    first row — proven row-identical to the global window in
    tests/test_temporal.py::test_little_law_stitched_sweep_equals_global.
    """
    w = Window.orderBy(*order_cols)
    rn = F.row_number().over(w)
    msg = (
        f"bounded_axis: {what} exceeded {bound} rows in a single-partition "
        f"window - gate-exactness assumption broken at this scale; "
        f"{safe_alternative} "
        f"(working exemplar: sessions_little_law_audit's stitched sweep)"
    )
    return F.when(F.assert_true(rn <= F.lit(bound), F.lit(msg)).isNull(), value)


def bounded_broadcast(
    value: Column,
    n_rows: Column,
    what: str,
    bound: int = BROADCAST_ROWS_BOUND,
    remedy: str = BROADCAST_REMEDY,
) -> Column:
    """Weld a broadcast-size assertion into a consumed expression
    (VERDICT r14 item 5 — the vocabulary-grain LM broadcast watch item,
    given a mechanical tripwire).

    ``value`` is the expression the site actually wants; ``n_rows`` is a
    COLUMN already present in the plan that carries (an upper bound on)
    the force-broadcast table's row count — e.g. the vocab size from an
    existing 1-row stats aggregate the gate already cross-joins. Using
    an existing column is the point: the guard adds ZERO exchanges,
    ZERO jobs, and ZERO plan-shape flags (the bounded_axis discipline) —
    it only rides expressions that already flow through the join. While
    ``n_rows < bound`` the value passes through unchanged; the moment a
    corpus breaks the Heaps-law sublinearity assumption behind the
    broadcast hint, execution raises HERE by site name with the one-line
    remedy, instead of failing opaquely (or, worse, slowly) inside
    Spark's broadcast machinery. The assert is woven INTO the consumed
    expression so Catalyst cannot prune it."""
    msg = (
        f"bounded_broadcast: {what} reached >= {bound} rows — the "
        f"Heaps-law sublinearity assumption behind this force-broadcast "
        f"is broken at this corpus size; {remedy}"
    )
    return F.when(
        F.assert_true(n_rows < F.lit(bound), F.lit(msg)).isNull(), value
    )


def spread_scan(df, key_col: str, target: int | None = None):
    """Conditionally hash-repartition an UNDER-PARALLEL scan before a
    CPU-heavy map chain (r16 optimization; guide §2.5 "input skew: one
    huge unsplittable file ... repartition immediately after the read").

    A single-file / single-row-group parquet source scans as ONE task,
    so an expression-heavy projection (tokenize → shingle → hash chains
    over document text) executes on one core no matter how wide the
    cluster is. This helper is the one CONDITIONAL spread (the dedup and
    FTS operators use it ahead of their tokenize/shingle/hash chains):
    when the scan already has at least half the cluster's slots it is
    returned UNCHANGED (zero added exchanges at healthy layouts — the
    100 TB case), otherwise it is hash-repartitioned ONCE by a
    deterministic key (never round-robin: retried tasks must reproduce
    the same row-to-partition assignment, SPARK-38388).

    Probe choice (VERDICT r3 raised the `df.rdd` plan-to-RDD
    conversion): a file-count probe (`inputFiles()`, no RDD conversion)
    was tried and REJECTED — it reads the leaf relation, so any plan
    that reduces parallelism between scan and operator (coalesce,
    AQE-coalesced shuffle) looks well-parallel while actually executing
    on few tasks, and skipping the spread there serializes the
    CPU-bound map chain. The RDD probe reports the df's actual pre-AQE
    execution parallelism, errs only toward a redundant repartition,
    and runs once per operator invocation (no job).

    Only use ahead of map chains whose downstream aggregates are
    partitioning-insensitive (exact integers / row-local floats /
    pre-rounded values) — the house float policy every gate follows.

    CONTRACT (ADVICE r16): call this on RAW SCANS ONLY — a bare
    load_table/read projection with no exchange beneath it. The
    parallelism probe goes through ``df.rdd``, which is only a free and
    accurate probe for a scan: on a plan that already contains
    exchanges under AQE, converting to an RDD finalizes (and can
    eagerly execute) query stages and reports PRE-coalesce partition
    counts, so the helper could mis-decide or do hidden work if applied
    mid-plan. For mid-plan re-spreads use an unconditional deterministic
    ``repartition(n, key)`` sized by ``defaultParallelism`` instead
    (the ngram_jaccard_pairs rep-set pattern).
    """
    sess = df.sparkSession
    if target is None:
        target = sess.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= target:
        return df
    return df.repartition(target, key_col)
