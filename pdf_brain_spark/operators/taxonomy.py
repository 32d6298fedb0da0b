"""Taxonomy / graph operators — the reference's SKOS concept DAG queries
(TaxonomyService.ts): 1-hop broader/narrower/related joins and the
recursive transitive closure (WITH RECURSIVE, TaxonomyService.ts:387-423).

Spark (<4.0 semantics) has no recursive CTE, so closure is an iterative
frontier join run to fixpoint:

    frontier₀ = seed edges (node, ancestor=parent, depth=1)
    frontierₙ = frontierₙ₋₁ ⋈ edges on (ancestor = edge.node), depth+1
    result    = ∪ frontiers, distinct per iteration (cycle-safe)

Edges tables are dimension-sized in practice (the reference ships 29
concepts), so each iteration is a broadcast join; `checkpoint`-style
truncation via localCheckpoint keeps the lineage from growing unboundedly
on deep graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERATIONS = 50


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
    edge list. Stops at fixpoint (empty frontier). A closure deeper than
    max_iterations + 1 levels raises a ValueError instead of returning a
    truncated result: after the cap, one more frontier is built, and a
    non-empty one means the walk had not reached its fixpoint.

    `acyclic=True` skips the per-iteration distinct + seen anti-join (one
    eager job and one broadcast per level): legal whenever each node has at
    most one parent (trees) or the graph is a DAG with unique paths —
    frontier pairs then can't repeat, and termination comes from the
    frontier emptying at the roots."""
    # every level joins the edges: materialize them once, or each level
    # re-runs the caller's edge lineage (a fact scan + distinct). An eager
    # localCheckpoint, not cache(): its blocks are released with the
    # result instead of staying in the session's cache
    edges = edges.select(
        F.col(node_col).alias("_e_node"), F.col(parent_col).alias("_e_parent")
    ).localCheckpoint()

    # frontier/seen are path-bounded (dimension-sized for taxonomy DAGs —
    # the reference ships 29 concepts), so materialize them single-partition:
    # each localCheckpoint is an EAGER job, and at default parallelism the
    # per-iteration task overhead (32 near-empty tasks × 3 materializations
    # × depth) dominates closure wall time. For closures whose frontier is
    # fact-sized, raise this to defaultParallelism.
    frontier = seeds.select(
        F.col(node_col).alias("node"),
        F.col(parent_col).alias("ancestor"),
        F.lit(1).alias("depth"),
    ).coalesce(1).localCheckpoint()
    pieces = [frontier]
    seen = frontier.select("node", "ancestor")
    for level in range(max_iterations + 1):
        # broadcast the frontier (bounded by live paths, typically tiny)
        # into the edge scan, and localCheckpoint EVERY iteration: without
        # it each loop re-executes the whole prior lineage and the job
        # count grows quadratically with depth
        nxt = edges.join(
            F.broadcast(frontier), frontier.ancestor == F.col("_e_node")
        ).select(
            "node", F.col("_e_parent").alias("ancestor"), (F.col("depth") + 1).alias("depth")
        )
        if not acyclic:
            # distinct + anti-join against accumulated result = the
            # recursive-CTE UNION dedup, which is also what guarantees
            # cycle termination on general graphs
            nxt = nxt.distinct().join(F.broadcast(seen), ["node", "ancestor"], "left_anti")
        nxt = nxt.coalesce(1).localCheckpoint()
        if nxt.isEmpty():
            break
        if level == max_iterations:
            raise ValueError(
                f"transitive closure did not reach its fixpoint in "
                f"max_iterations={max_iterations} rounds (a chain deeper than "
                f"{max_iterations + 1} levels, or a cycle with acyclic=True); "
                "raise max_iterations or pass acyclic=False for a cyclic graph"
            )
        pieces.append(nxt)
        if not acyclic:
            seen = (
                seen.unionByName(nxt.select("node", "ancestor")).coalesce(1).localCheckpoint()
            )
        frontier = nxt
    result = pieces[0]
    for p in pieces[1:]:
        result = result.unionByName(p)
    return result


def one_hop_broader(concepts: DataFrame, hierarchy: DataFrame) -> DataFrame:
    """Direct parents of each concept (TaxonomyService.ts:359-385) —
    broadcast equi-join, concepts is dimension-sized."""
    return hierarchy.join(
        F.broadcast(concepts.select(F.col("concept_id").alias("broader_id"),
                                    F.col("pref_label").alias("broader_label"))),
        "broader_id",
    )


def descendants(seeds: DataFrame, edges: DataFrame, **kw) -> DataFrame:
    """Transitive narrower: same loop with edges reversed. NOTE: a tree is
    only acyclic=True-safe downward when descent paths are unique, which
    holds for trees (each child reached via its one parent)."""
    rev = edges.select(F.col("parent").alias("node"), F.col("node").alias("parent"))
    rev_seeds = seeds.select(F.col("parent").alias("node"), F.col("node").alias("parent"))
    return transitive_ancestors(rev_seeds, rev, **kw).withColumnRenamed("ancestor", "descendant")


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
