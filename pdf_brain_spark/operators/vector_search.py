"""Vector search operators — the load-bearing path of the reference.

Reference behavior being re-expressed (not ported):
  * ANN top-k probe + 3-way join to chunks/documents
    (LibSQLDatabase.ts:325-376) → here: exact brute-force cosine top-k as the
    correctness baseline (deterministic, oracle-able), with the scan→score→
    TakeOrderedAndProject plan Spark already executes optimally.
  * Over-fetch heuristics: tag-filtered searches fetch limit×3 candidates
    before the post-filter (LibSQLDatabase.ts:340), multi-scale fetches
    limit×2 (LibSQLDatabase.ts:226-227). Semantic knob, replicated.
  * Score threshold pushdown: score≥t ⇒ distance ≤ 2(1-t) in the WHERE
    (LibSQLDatabase.ts:359-368) — expressed as a filter Catalyst pushes
    below the sort.

Scale posture: a single query against N vectors is a scan + TakeOrdered —
O(N/executors), no shuffle of the fact table, only k rows to the driver.
Batched queries become a broadcast nested-loop similarity join
(`similarity_join`): the query side is broadcast, the vector side streams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_brain_spark.functions.vector import (
    cosine_distance,
    distance_to_score,
    score_threshold_to_distance,
)

OVERFETCH_TAG_FILTER = 3  # LibSQLDatabase.ts:340
OVERFETCH_MULTISCALE = 2  # LibSQLDatabase.ts:226-227


def topk_by_query_df(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    query_col: str = "query_vec",
    threshold: float | None = None,
) -> DataFrame:
    """Exact cosine top-k of `vectors` against a 1-row query DataFrame.

    The query side is crossJoin-broadcast (1 row), so the plan is:
    parquet scan → codegen'd score expr → [pushed threshold filter] →
    TakeOrderedAndProject(k). No shuffle.
    """
    q = F.broadcast(query)
    scored = vectors.crossJoin(q).withColumn(
        "distance", cosine_distance(vec_col, query_col)
    )
    if threshold is not None:
        scored = scored.filter(F.col("distance") <= F.lit(score_threshold_to_distance(threshold)))
    return (
        scored.withColumn("score", distance_to_score("distance"))
        .drop(query_col)
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    threshold: float | None = None,
    post_filter: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector, with the
    reference's over-fetch-then-post-filter semantics when `post_filter`
    is given (fetch k×3 candidates, filter, re-limit to k). The query is
    one array constant in the score expression, with its norm folded on
    the driver (functions/vector.py)."""
    scored = vectors.withColumn("distance", cosine_distance(vec_col, query_vec))
    if threshold is not None:
        scored = scored.filter(F.col("distance") <= F.lit(score_threshold_to_distance(threshold)))
    scored = scored.withColumn("score", distance_to_score("distance"))
    # vec_id tiebreaker everywhere: tied distances must select the same
    # candidate set as the oracle's ORDER BY d, vec_id
    if post_filter is not None:
        fetch = k * OVERFETCH_TAG_FILTER
        candidates = scored.orderBy(F.col("distance").asc(), F.col("vec_id").asc()).limit(fetch)
        return (
            candidates.filter(post_filter)
            .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
            .limit(k)
        )
    return scored.orderBy(F.col("distance").asc(), F.col("vec_id").asc()).limit(k)


def similarity_join(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch top-k: every query row × every vector row, ranked per query.

    This is where Spark beats a one-query-at-a-time engine: thousands of
    queries amortize a single scan of the vector table. Query side is
    broadcast (small); scoring happens map-side in codegen, and the fat
    array columns are dropped BEFORE the rank window so the query_id
    shuffle carries only (query_id, vec_id, …scalars) — at 256 queries ×
    a fact-sized corpus that's the difference between shuffling hundreds
    of MB of float arrays and a few MB of scalars. Beyond exhaustive
    Q×N scoring, prune candidates with the IVF index (operators/ann.py)
    and re-rank exactly inside probed lists.
    """
    from pyspark.sql import Window

    scored = (
        vectors.crossJoin(F.broadcast(queries))
        .withColumn("distance", cosine_distance(vec_col, query_col))
        .withColumn("score", distance_to_score("distance"))
        .drop(query_col, vec_col)
    )
    w = Window.partitionBy(query_id).orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_rows_tiebroken_batch(dist, vid, take: int):
    """Indices of each column's `take` smallest entries of a B×Q
    distance matrix under the total order (distance, vec_id) — the SAME
    order as the merge window of `partial_topk_batch`, so a distance tie
    straddling a batch's truncation boundary selects exactly the
    candidates the exhaustive plan would. One vectorized pass for all
    Q columns (guide §4.2), not a Python loop per query.

    Cost stays O(B) per column: ONE `np.argpartition(..., axis=0)` cuts
    every column to its `take` smallest, then only the take-row head is
    sorted — per column by (distance, vid-rank). (A first vectorization
    stable-argsorted every row of every column, O(B·log B) per column —
    a real regression for the full-scan consumers at B = 32k codes per
    batch.) Columns where a distance tie straddles the partition
    boundary (detected exactly via the per-column kth value) fall back
    to a tie-inclusive per-column lexsort — the rare case under float
    distances, and each such sort touches only the take+ties candidate
    rows, never B.

    Equivalence is pinned by the tests/test_partial_topk.py fuzz
    (300 trials incl. heavy integer-distance ties, vs a verbatim
    argpartition + tied-tail lexsort reference).
    Contract: distances are NaN-free — every caller scores normalized
    vectors/integer codes, and `partial_topk_batch` rejects a query with
    zero norm or a non-finite component before any job runs.
    Returns a (min(take, B) × Q) matrix of row indices."""
    import numpy as np

    b, q = dist.shape
    if take >= b:
        # every row is selected: the output is all rows ordered by
        # (distance, vec_id) — a full stable sort is the work itself
        vord = np.argsort(vid, kind="stable")
        return vord[np.argsort(dist[vord], axis=0, kind="stable")]
    # Work QUERY-MAJOR (Q×B, C-contiguous rows): a lane-wise
    # argpartition over strided columns is ~2× slower than over
    # contiguous rows, and the BLAS/ADC kernels that call with
    # `dist.T` views make this transpose a zero-copy no-op.
    dt = np.ascontiguousarray(dist.T)
    # rank of each row in vid order: the secondary sort key (among tied
    # distances the smaller vec_id wins, matching the merge window)
    vord = np.argsort(vid, kind="stable")
    vrank = np.empty(b, dtype=np.int64)
    vrank[vord] = np.arange(b)
    # Two-point partition: placing BOTH the (take-1)-th and take-th
    # order statistics lets the boundary-tie test read just those two
    # values per query — no full Q×B "<= kth" mask pass (that mask cost
    # a second full sweep of the 64 MB matrix at B=32k, Q=256).
    part = np.argpartition(dt, (take - 1, take), axis=1)
    rows_ix = np.arange(q)
    kth = dt[rows_ix, part[:, take - 1]]
    nxt = dt[rows_ix, part[:, take]]
    out = np.empty((q, take), dtype=np.int64)
    easy = nxt > kth  # NaN-free contract: comparison is total here
    if easy.any():
        # no tie crosses the boundary: the head IS the selected set;
        # order it by (distance, vid-rank), all queries at once.
        erows = np.flatnonzero(easy)
        he = part[erows, :take]
        he = np.take_along_axis(he, np.argsort(vrank[he], axis=1), axis=1)
        hd = dt[erows[:, None], he]  # E×take gather, no E×B copy
        out[erows] = np.take_along_axis(he, np.argsort(hd, axis=1, kind="stable"), axis=1)
    for qi in np.flatnonzero(~easy):
        # tie straddles the boundary: sort the take+ties candidates
        # (row indices ascend = vid-rank NOT ascending; use lexsort)
        cand = np.flatnonzero(dt[qi] <= kth[qi])
        order = np.lexsort((vrank[cand], dt[qi, cand]))
        out[qi] = cand[order[:take]]
    return out.T


def partial_topk_batch(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    prepare,
    cols: list[str],
    query_id: str = "query_id",
    query_col: str = "query_vec",
    id_col: str = "vec_id",
    dist_col: str = "distance",
    dist_type: str = "double",
    carry: str | None = None,
) -> DataFrame:
    """The one batched partial-top-k pipeline every serving kernel runs:
    each Arrow batch keeps a local top-k per query, and one exact merge
    window combines them (the distributed top-k shape of REPOSE, ICDE
    2021). Callers supply only their scorer and probe choice.

      1. The query batch (bounded: a *serving batch*, not a fact table)
         is collected to an L2-normalized Q×d matrix. A query with zero
         norm or a non-finite component has no cosine direction: it
         raises ValueError naming its ids before any corpus job runs.
      2. ``prepare(qmat)`` returns ``(score, probes)``. ``score(pdf,
         list_id, qsel)`` is the caller's B×|qsel| distance matrix of a
         pandas batch against the query rows ``qsel`` (a transposed view
         is fine). ``probes`` is None — every query scores every row —
         or a Q×n_probes array of the list ids each query probes.
      3. Per Arrow batch (routed: per ``list_id`` group of it, scored
         against only the queries probing that list; the scan is
         filtered to ``list_id IN (probe union)``, a partition filter on
         the persisted IVF layout) each query keeps its `k` smallest
         under (distance, id) and emits (query_id, id_col, dist_col
         [, carry]). The post-map shuffle is partitions × Q × k rows —
         independent of corpus size.
      4. A (distance, id) rank window keeps ``rank <= k`` per query.

    Truncation and merge use the same total order, so the result equals
    the exhaustive ranking under the scorer even when exact distance
    ties cross Arrow-batch boundaries. An empty query batch returns zero
    rows with the same columns and types as a non-empty one."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q_rows = queries.select(query_id, query_col).collect()
    schema = (
        f"{query_id} {dict(queries.dtypes)[query_id]}, "
        f"{id_col} {dict(corpus.dtypes)[id_col]}, {dist_col} {dist_type}"
    )
    if carry is not None:
        schema += f", {carry} {dict(corpus.dtypes)[carry]}"
    if not q_rows:
        partials = corpus.sparkSession.createDataFrame([], schema)
    else:
        qids = np.array([r[0] for r in q_rows])
        qmat = np.asarray([r[1] for r in q_rows], dtype=np.float64)
        norm = np.linalg.norm(qmat, axis=1)
        bad = ~(np.isfinite(qmat).all(axis=1) & np.isfinite(norm) & (norm > 0))
        if bad.any():
            raise ValueError(
                f"{query_col}: zero norm or non-finite component for "
                f"{query_id} {sorted(qids[bad].tolist())}"
            )
        # every accepted norm is > 0: plain division gives the same bits
        # as the np.maximum(norm, 1e-12) form for every norm >= 1e-12, and
        # the true direction below it
        score, probes = prepare(qmat / norm[:, None])

        def _top(pdf, lid, qsel):
            dist = score(pdf, lid, qsel)
            vid = pdf[id_col].to_numpy()
            rows = topk_rows_tiebroken_batch(dist, vid, min(k, dist.shape[0]))
            flat = rows.T.reshape(-1)
            data = {
                query_id: np.repeat(qids[qsel], rows.shape[0]),
                id_col: vid[flat],
                dist_col: dist[rows, np.arange(dist.shape[1])[None, :]].T.reshape(-1),
            }
            if carry is not None:
                data[carry] = list(pdf[carry].to_numpy()[flat])
            return pd.DataFrame(data)

        scan = corpus.select(id_col, *cols)
        by_list = None
        if probes is not None:
            # ascending query rows per probed list
            by_list = {int(l): np.flatnonzero((probes == l).any(axis=1)) for l in np.unique(probes)}
            probed = ", ".join(map(str, by_list)) or "NULL"  # no probes: IN (NULL) keeps no row
            scan = corpus.filter(F.expr(f"list_id IN ({probed})")).select(id_col, *cols, "list_id")

        def _partial_topk(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                if by_list is None:
                    yield _top(pdf, None, slice(None))
                else:
                    yield pd.concat(
                        [_top(g, int(l), by_list[int(l)]) for l, g in pdf.groupby("list_id")],
                        ignore_index=True,
                    )

        partials = scan.mapInPandas(_partial_topk, schema=schema)
    w = Window.partitionBy(query_id).orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
    return partials.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_scorer(qmat, vec_col: str):
    """`partial_topk_batch` scorer: cosine distance of a pandas batch's
    L2-normalized vectors to the selected queries as ONE BLAS matmul
    (B×d @ d×|qsel|). The pure-expression path scores with zip_with/
    aggregate, which Spark evaluates interpreted per row (higher-order
    functions are outside whole-stage codegen) — fine at 8 queries,
    dominant at 256+."""
    import numpy as np

    def score(pdf, _list_id, qsel):
        vmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        vmat = vmat / np.linalg.norm(vmat, axis=1, keepdims=True)
        return 1.0 - vmat @ qmat[qsel].T

    return score


def similarity_join_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Vectorized batch top-k: the serving-path version of
    `similarity_join` for large query batches — `partial_topk_batch`
    with the BLAS `cosine_scorer`, so each Arrow batch scores as one
    matmul and the result equals the exhaustive `similarity_join`
    (ids and ranks; distances to float rounding).

    ``keep_vec=True`` carries each candidate's vector through the
    partial-top-k shuffle (r13, for mmr_rerank_batch): the pandas batch
    already holds the vectors, so emitting them costs only shuffle bytes
    at partitions × Q × k rows — still corpus-size-independent — and
    saves the consumer a second corpus scan to re-attach them.
    """
    return partial_topk_batch(
        queries,
        vectors,
        k,
        lambda qmat: (cosine_scorer(qmat, vec_col), None),
        [vec_col],
        query_id=query_id,
        query_col=query_col,
        id_col=id_col,
        carry=vec_col if keep_vec else None,
    ).withColumn("score", distance_to_score("distance"))


def mmr_rerank(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 30,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): greedily pick the candidate maximizing
    lam * rel(d) − (1−lam) * max_{s∈S} sim(d, s), so near-duplicate
    results don't crowd the top of a RAG context window. The reference's
    search surface returns raw similarity order (LibSQLDatabase.ts:
    325-376); MMR is the standard diversity layer on top of it.

    Two-stage distributed shape: stage 1 is `topk` itself, the exact
    cosine top-N candidate fetch — scan → score → TakeOrderedAndProject(N)
    (no shuffle of the corpus, no query-side join; only N rows move).
    Stage 2 is the greedy selection, which is INHERENTLY sequential in
    k — it runs as one bounded applyInPandas task over the N candidate
    rows (N ≤ ~100 by construction, the same bounded-kernel discipline as
    the k-means fit). Both terms are on the
    engine's score scale 1 − d/2 ∈ [0, 1] — rel IS the search score, and
    the pairwise penalty is (1 + cos)/2. Raw cosine ∈ [−1, 1] in the
    penalty would PAY candidates for being anti-correlated with the
    selected set, so junk pointing away from everything outranks
    genuinely relevant diverse results. Both terms are rounded to 6
    decimals BEFORE selection so the greedy path is bit-reproducible
    across engines (the DuckDB oracle re-derives the identical selection
    from the same rounded values); ties break on the lower id.

    Returns (rank 1..k, id_col, rel, mmr_score) in selection order.
    """
    import numpy as np
    import pandas as pd

    cand = (
        topk(
            vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col)),
            [float(x) for x in query_vec],
            k=n_candidates,
            vec_col=vec_col,
        )
        .select(
            F.col("vec_id").alias(id_col),
            F.col(vec_col),
            F.round("score", 6).alias("rel"),
        )
        # single logical group: the greedy step needs ALL candidates in
        # one task — N is bounded, so this is a 1-task kernel by design
        .withColumn("_g", F.lit(0))
    )

    id_type = dict(vectors.dtypes)[id_col]
    greedy = _make_mmr_greedy(id_col, vec_col, float(lam), k)
    return (
        cand.groupBy("_g")
        .applyInPandas(
            greedy, schema=f"rank int, {id_col} {id_type}, rel double, mmr_score double"
        )
        .orderBy("rank")
    )


def _make_mmr_greedy(id_col: str, vec_col: str, lam: float, k: int, qid_col: str | None = None):
    """The bounded sequential MMR kernel shared by the single-query and
    batched paths: greedy over one candidate group's pandas frame, ties
    to the lowest id. When `qid_col` is given the group key (the query
    id) is emitted as the leading column.

    Cross-engine determinism is by EXACT INTEGER ARITHMETIC, not by
    rounding at a boundary: rel and the pairwise sims are 6-dp values,
    so both MMR terms are integer micro-units (rel6, sim6 ∈ [0, 1e6]),
    and λ is quantized to PARTS-PER-MILLION (λppm = round(λ·1e6) — a
    quantization error ≤ 5e-7, far below the 1e-6 score resolution, so
    any float λ is accepted). The objective λ·rel − (1−λ)·max_sim
    scaled by 1e6·1e6 is the exact int λppm·rel6 − (1e6−λppm)·sim6
    (≤ ~1e12, well inside int64) — the argmax compares integers. The
    micro-units themselves are derived HALF-AWAY-FROM-ZERO
    (floor(x·1e6 + 0.5) for these non-negative [0,1] values), the same
    rounding mode DuckDB's round() and Spark's F.round use — a plain
    np.round here is half-EVEN and differed from the oracle exactly at
    ...5e-7 boundaries (first caught by the 64-query batch oracle; the
    half-away derivation closes the class rather than betting the
    boundary is unreachable). The reported mmr_score is that integer / 1e12: for
    λ in tenths this is the identical double as the tenths-scaled form
    the oracles use (same real value, correctly rounded division)."""
    import numpy as np
    import pandas as pd

    lam_ppm = int(round(lam * 1_000_000))

    def _greedy(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        M = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
        M = M / (np.linalg.norm(M, axis=1, keepdims=True) + 1e-12)
        # 6-dp integer micro-units, half-away like DuckDB/Spark round
        # (inputs are non-negative, so floor(x*1e6 + 0.5) IS half-away):
        # exact integer arithmetic from here on
        sims6 = np.floor((1.0 + M @ M.T) / 2.0 * 1e6 + 0.5).astype(np.int64)
        rel6 = np.floor(rel * 1e6 + 0.5).astype(np.int64)
        order = np.argsort(ids, kind="stable")  # id-ascending tie-break base
        ids, rel, rel6 = ids[order], rel[order], rel6[order]
        sims6 = sims6[order][:, order]
        n = len(ids)
        chosen: list[int] = []
        out_rows = []
        remaining = list(range(n))
        for rank in range(1, min(k, n) + 1):
            if chosen:
                max_sim6 = np.max(sims6[np.ix_(remaining, chosen)], axis=1)
            else:
                max_sim6 = np.zeros(len(remaining), dtype=np.int64)
            mmr_i = lam_ppm * rel6[remaining] - (1_000_000 - lam_ppm) * max_sim6
            best = int(np.argmax(mmr_i))  # first max = lowest id
            pick = remaining[best]
            row = {
                "rank": rank,
                id_col: ids[pick],
                "rel": rel[pick],
                "mmr_score": float(int(mmr_i[best]) / 1e12),
            }
            if qid_col is not None:
                row[qid_col] = key[0]
            out_rows.append(row)
            chosen.append(pick)
            remaining.pop(best)
        cols = ([qid_col] if qid_col else []) + ["rank", id_col, "rel", "mmr_score"]
        return pd.DataFrame(out_rows, columns=cols)

    return _greedy


def mmr_rerank_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_candidates: int = 30,
    lam: float = 0.7,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched MMR — the serving-batch twin of `mmr_rerank`, matching the
    engine's batch shape everywhere else (similarity_join_topk,
    ivf_search_topk_batch): Q queries amortize ONE corpus pass for the
    candidate fetch and run Q independent bounded greedy kernels.

    Stage 1 fetches every query's exact top-n_candidates via the BLAS-
    batched partial-top-k scan (`similarity_join_topk` — one corpus
    pass, shuffle is partitions × Q × n rows) with ``keep_vec=True``,
    so each candidate's vector rides the partial-top-k shuffle instead
    of being re-attached by a second corpus scan + broadcast build (the
    r13 rewrite: ONE corpus pass total; the old stage-2 join paid a
    whole extra pass — and the broadcast build re-executed stage 1 —
    to fetch Q × n vectors the pandas batches already had in hand).
    Stage 2 groups by query id and runs the SAME greedy kernel as the
    single-query path per group (applyInPandas; each group is <= n rows
    by construction, so per-task state stays bounded however large Q
    grows). Scores/penalties/tie-breaks are identical to `mmr_rerank`,
    so a batch of one reproduces it exactly.

    Returns (query_id, rank 1..k, id_col, rel, mmr_score).
    """
    with_vec = (
        similarity_join_topk(
            queries,
            vectors,
            k=n_candidates,
            query_id=query_id,
            query_col=query_col,
            vec_col=vec_col,
            id_col=id_col,
            keep_vec=True,
        )
        .select(query_id, id_col, vec_col, F.round("score", 6).alias("rel"))
    )
    qid_type = dict(queries.dtypes)[query_id]
    id_type = dict(vectors.dtypes)[id_col]
    greedy = _make_mmr_greedy(id_col, vec_col, float(lam), k, qid_col=query_id)
    return (
        with_vec.groupBy(query_id)
        .applyInPandas(
            greedy,
            schema=(
                f"{query_id} {qid_type}, rank int, {id_col} {id_type}, "
                "rel double, mmr_score double"
            ),
        )
        .orderBy(query_id, "rank")
    )


def hard_negatives(
    vectors: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    dup_threshold: float = 0.95,
    anchor_id: str = "anchor_id",
    anchor_col: str = "anchor_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each anchor, the most-similar OTHER vectors that are NOT near-
    duplicates — the negatives that actually carry gradient signal
    (easy random negatives are trivially separable; near-duplicates are
    false negatives that poison the loss). Standard practice in dense
    retrieval training (e.g. DPR, Karpukhin et al. 2020 mines hard
    negatives from BM25/ANN top results).

    Plan shape is the engine's batch-serving shape: anchors broadcast
    into one corpus scan, codegen'd cosine, then a per-anchor rank
    window over (distance, id). The near-dup exclusion compares the
    6-dp-ROUNDED score against the threshold so the boundary decision
    is identical across engines. Self-pairs are excluded by id, so an
    anchor drawn from the corpus never mines itself.

    Returns (anchor_id, id_col, rank 1..k, score) — score on the 1 − d/2
    scale, rounded 6."""
    from pyspark.sql import Window

    scored = (
        vectors.crossJoin(F.broadcast(anchors))
        .filter(F.col(id_col) != F.col(anchor_id))
        .withColumn("distance", cosine_distance(vec_col, anchor_col))
        .withColumn("score", F.round(distance_to_score("distance"), 6))
        .filter(F.col("score") < F.lit(float(dup_threshold)))
        .drop(anchor_col, vec_col)
    )
    w = Window.partitionBy(anchor_id).orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(anchor_id, id_col, "rank", "score")
    )
