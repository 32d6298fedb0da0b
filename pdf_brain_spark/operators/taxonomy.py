"""Taxonomy / graph operators — the reference's SKOS concept DAG queries
(TaxonomyService.ts): 1-hop broader/narrower/related joins and the
recursive transitive closure (WITH RECURSIVE, TaxonomyService.ts:387-423).

Closure is a driver loop of eager rounds. Spark 4.1's own `WITH RECURSIVE`
was measured on the transitive_closure gate and rejected: 98 jobs and
4.7–5.7 s warm, against 2.5–3.0 s for the one-level-per-round frontier
loop this module then ran.

- `acyclic=True` (trees, and DAGs with unique paths) runs by path doubling,
  the "logarithmic" closure of Ioannidis (VLDB 1986): round r joins the
  paths of exactly 2^r edges to themselves, so a closure d levels deep
  takes ⌊log₂ d⌋ + 1 rounds instead of d.
- `acyclic=False` keeps the frontier loop, one level per round, each
  (node, ancestor) once at its shortest depth; a pair already held is not
  walked again, so it ends on a cycle.

Each round is one SQL plan ending in one coalesce(1).localCheckpoint(),
and its stop test is observed on that same job
(functions/sql.py::checkpoint_observed). Edge tables are dimension-sized
(the reference ships 29 concepts), so every round's join broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_brain_spark.functions.sql import checkpoint_observed, sql_ref

MAX_ITERATIONS = 50

# One doubling round over the tagged paths (tag, node, ancestor, depth) of
# round r: 'x' every edge path of exactly 2^r edges, 'sx' the seed paths
# of exactly 2^r edges, 's' the seed paths shorter than that. Joined to X,
# they give X∘X ('x'), SX∘X ('sx') and S∘X ('s'); the old S and SX pass
# through as 's'. So the 's' rows out are every seed path shorter than
# 2^(r+1), each once, and no 'sx' row out means there is no longer one.
_DOUBLING_ROUND = """
SELECT /*+ BROADCAST(x) */ u.tag, u.node, x.ancestor, u.depth + x.depth AS depth
FROM {st} u JOIN (SELECT node, ancestor, depth FROM {st} WHERE tag = 'x') x
  ON u.ancestor = x.node
UNION ALL
SELECT 's', node, ancestor, depth FROM {st} WHERE tag <> 'x'
"""

# One frontier round over (node, ancestor, depth, fresh): the fresh rows
# (the last level) take one edge up, and a pair already held is dropped —
# the recursive CTE's UNION dedup, which is what ends a cycle.
_FRONTIER_ROUND = """
SELECT node, ancestor, depth, false AS fresh FROM {st}
UNION ALL
SELECT /*+ BROADCAST(s) */ n.node, n.ancestor, n.depth, true
FROM (
  SELECT /*+ BROADCAST(f) */ DISTINCT f.node, e.parent AS ancestor, f.depth + 1 AS depth
  FROM {st} f JOIN {edges} e ON f.ancestor = e.node
  WHERE f.fresh
) n LEFT ANTI JOIN {st} s ON n.node = s.node AND n.ancestor = s.ancestor
"""


def transitive_ancestors(
    seeds: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_iterations: int = MAX_ITERATIONS,
    acyclic: bool = False,
) -> DataFrame:
    """All (node, ancestor, depth) pairs reachable from `seeds` following
    `edges` upward. `seeds` must have (node, parent); `edges` is the full
    edge list. A closure deeper than max_iterations + 1 levels raises a
    ValueError instead of returning a truncated result.

    `acyclic=True` returns one row per path (no pair dedup) by path
    doubling, and reads `edges` once: legal whenever each node has at most
    one parent (trees) or the graph is a DAG with unique paths. On a cycle
    its paths never end, so it raises. `acyclic=False` walks one level per
    round and reads `edges` every round, so pass them materialized."""
    spark = seeds.sparkSession
    node, parent = sql_ref(node_col), sql_ref(parent_col)
    if acyclic:
        st = edges.selectExpr(
            "'x' AS tag", f"{node} AS node", f"{parent} AS ancestor", "1 AS depth"
        ).unionAll(seeds.selectExpr("'sx'", node, parent, "1"))
        while True:
            st, seen = checkpoint_observed(
                spark.sql(_DOUBLING_ROUND, st=st).coalesce(1),
                open="count_if(tag = 'sx')",
                deepest="max(CASE WHEN tag <> 'x' THEN depth END)",
            )
            if (seen["deepest"] or 0) > max_iterations + 1:
                raise _unreached(max_iterations)
            if not seen["open"]:
                return st.where("tag = 's'").drop("tag")
    edges = edges.selectExpr(f"{node} AS node", f"{parent} AS parent")
    st = seeds.selectExpr(f"{node} AS node", f"{parent} AS ancestor", "1 AS depth", "true AS fresh")
    for level in range(max_iterations + 1):
        st, seen = checkpoint_observed(
            spark.sql(_FRONTIER_ROUND, st=st, edges=edges).coalesce(1),
            fresh="count_if(fresh)",
        )
        if not seen["fresh"]:
            break
        if level == max_iterations:
            raise _unreached(max_iterations)
    return st.drop("fresh")


def _unreached(max_iterations: int) -> ValueError:
    return ValueError(
        f"transitive closure did not reach its fixpoint in "
        f"max_iterations={max_iterations} rounds (a chain deeper than "
        f"{max_iterations + 1} levels, or a cycle with acyclic=True); "
        "raise max_iterations or pass acyclic=False for a cyclic graph"
    )


def descendants(seeds: DataFrame, edges: DataFrame, **kw) -> DataFrame:
    """Transitive narrower: the same closure with edges reversed. NOTE: a
    tree is only acyclic=True-safe downward when descent paths are unique,
    which holds for trees (each child reached via its one parent)."""
    return transitive_ancestors(
        seeds, edges, node_col="parent", parent_col="node", **kw
    ).withColumnRenamed("ancestor", "descendant")


def pagerank_exact_int(
    edges: DataFrame,
    n_iter: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT INTEGER nano-units — the
    iterative graph-centrality operator, engineered so every engine
    computes bit-identical ranks (the float-summation-order problem is
    fatal for PR oracles: each iteration sums thousands of neighbor
    contributions in engine-specific order; quantizing the RECURRENCE
    itself to integer arithmetic makes order irrelevant).

    Recurrence (all integer, // = integer division):
        r0(v)      = scale // N
        contrib(u) = r(u) // outdeg(u)
        r'(v)      = ((100 - d) * scale) // (100 * N)
                     + (d * Σ_in contrib(u)) // 100
    Dangling-node mass is DROPPED (not redistributed) — documented
    semantics, identical on both engines; ranks therefore sum to < scale
    and are a centrality ORDERING, not a probability distribution.

    Plan shape per iteration: one groupBy shuffle on the destination key
    with map-side combinable integer sums, then a left join back onto
    the node set (no collect, no driver loop over nodes — the driver
    loop is over the FIXED iteration count only). localCheckpoint per
    iteration truncates the growing lineage exactly like the closure
    loop above. Returns (node, rank_nano) — exact int64."""
    # edges and outdeg are read on EVERY iteration — materialize once so
    # the loop does not re-scan the edge table and re-run the degree
    # aggregate n_iter times (same lineage discipline as nodes/ranks)
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select("node")
        .unionByName(edges.select(F.col("parent").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    outdeg = edges.groupBy("node").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint(eager=True)
    base = ((100 - damping_pct) * scale) // (100 * n)
    ranks = nodes.withColumn("rank_nano", F.lit(scale // n).cast("long"))
    for _ in range(n_iter):
        contribs = (
            edges.join(ranks, "node")
            .join(F.broadcast(outdeg), "node")
            .select(
                F.col("parent").alias("node"),
                F.expr("rank_nano div outdeg").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(in_sum, 0L)) div 100"
                    )
                ).cast("long").alias("rank_nano"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks
