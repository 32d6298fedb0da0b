"""Deduplication suite for LLM-training-data pipelines — beyond-reference
extensions named in BASELINE.json, each designed as a shuffle-conscious
DataFrame pipeline:

  * exact_duplicates      — md5(content) groupBy; one shuffle on the hash.
  * ngram_jaccard_pairs   — shingle inverted index → pairs sharing shingles
                            → Jaccard from |A∩B| and precomputed set sizes.
                            Never materializes the O(n²) cross product: only
                            pairs that actually share a shingle meet.
  * minhash_lsh_pairs     — minhash signatures (portable md5-derived hash
                            family) → banded buckets → candidate pairs from
                            bucket joins. The 100 TB-scale path: cost is
                            O(n · bands), not O(n²).
  * simhash_fingerprints  — 60-bit simhash over tokens (bitwise majority of
                            per-token hashes).
  * embedding_near_dup    — cosine-similarity pairs over the embedding
                            column above a threshold (exact; the LSH/IVF
                            variants in operators/ann.py are the scale path).

Everything uses the portable md5-based hash (see functions/text.py) so
results are reproducible across engines — which is also what makes the
DuckDB oracles possible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_brain_spark.functions.guards import spread_scan
from pdf_brain_spark.functions.sql import Fragment, checkpoint_observed, sql_ref
from pdf_brain_spark.functions.text import (
    kgrams_sql,
    md5_long,
    md5_long_sql,
    shingles,
    tokenize,
    tokenize_sql,
)

# Shingles shared by more than this many DISTINCT contents are dropped from
# the inverted index: a stop-shingle shared by m docs emits m²/2 pairs, so
# an uncapped index is quadratic in the hottest shingle — the 100 TB
# killer. Dropping them only LOWERS computed Jaccard (intersection loses
# members, union keeps full set sizes), so results are a lower bound;
# near-identical docs share many non-stop shingles and still surface.
SHINGLE_DF_CAP = 512


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_dups, doc_ids
    kept/min). Returns one row per duplicated content value."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def _shingle_set_df(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc_id, sh_set): per-doc distinct shingle set, computed ONCE so
    callers that need both the set (exact verify) and derived values
    (minhash bases, set size) share a single tokenize/shingle pass.
    Docs with < k tokens have no shingles and are dropped (cheap
    pushdown-safe predicate, no hash chain in the filter)."""
    return (
        spread_scan(docs, id_col)
        .filter(F.size(tokenize(text_col)) >= k)
        .select(
            F.col(id_col),
            F.array_distinct(shingles(tokenize_sql(text_col), k)).alias("sh_set"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = SHINGLE_DF_CAP,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by k-gram set containment: for each pair
    sharing a shingle, C(A|B) = |A∩B|/|A| and |A∩B|/|B|. Containment is
    what Jaccard misses on length-skewed corpora — a short doc fully
    embedded in a long one (quote, excerpt, boilerplate wrapper) has
    containment ≈ 1 on the short side while Jaccard stays near
    |short|/|long|. Pairs emit when the LARGER containment (intersection
    over the smaller set) clears the threshold.

    The same inverted-index pair count as ngram_jaccard_pairs
    (_shared_shingle_pairs: pairs meet only on shared shingles,
    per-shingle groups bounded by the df cap), so the subquadratic 100 TB
    argument carries over unchanged. Counts and set sizes are
    exact integers; the two containments are single divisions (identical
    IEEE results on any engine)."""
    sets = _shingle_set_df(docs, id_col, text_col, k).localCheckpoint(eager=True)
    return (
        _shared_shingle_pairs(sets, id_col, df_cap)
        .filter((F.col("intersection") / F.least("size_a", "size_b")) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("intersection").alias("common_shingles"),
            F.round(F.col("intersection") / F.col("size_a"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("intersection") / F.col("size_b"), 6).alias(
                "containment_b"
            ),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = SHINGLE_DF_CAP,
) -> DataFrame:
    """Near-duplicate pairs by k-gram Jaccard ≥ threshold. Inverted-index
    join: pairs meet only on shared shingles, intersection = meet count,
    union = |A| + |B| - ∩.

    Exact-duplicate contents are collapsed FIRST (content-hash groupBy)
    and expanded back at the end: a corpus with d copies per doc makes
    every shingle group d× larger and pair emission d²× — the collapse
    keeps the inverted index quadratic only in DISTINCT contents, which is
    what makes this survive duplicate-heavy 100 TB crawls. Identical docs
    have Jaccard 1 by definition, so the expansion is semantics-free.
    """
    hashed = spread_scan(docs, id_col).select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_chash"), F.col(text_col)
    )
    # one shuffle builds both the member lists and the representatives
    # (texts are identical within a hash group, so any_value stands in).
    # localCheckpoint, not cache(): a lazy operator can't safely unpersist
    # (the caller collects after we return), so cache() entries would
    # accumulate in the CacheManager across invocations in a long-lived
    # session; checkpoint blocks are reclaimed by the ContextCleaner when
    # the plan is GC'd (same rationale as temporal.py tiered rollup).
    groups = hashed.groupBy("_chash").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("_members"),
        F.first(F.col(text_col)).alias(text_col),
    ).localCheckpoint(eager=True)
    members = groups.select("_chash", "_members")

    # one shingle pass over the distinct contents, shared by the inverted
    # index, the set sizes, and the nonempty check below.
    # r16 (profiled): AQE coalesces the tiny dup-collapse shuffle to ONE
    # partition, so this k-gram chain — the expensive kind per the r16
    # A/B — ran single-task (0.73 s of the gate at sf0.1). One cheap
    # deterministic exchange of the (hash, text) reps re-spreads it; the
    # checkpoint then materializes the sets cluster-wide.
    rsets = (
        groups.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "_chash"
        )
        .select(
            F.col("_chash").alias(id_col),
            F.array_distinct(shingles(tokenize_sql(text_col), k)).alias("sh_set"),
        )
        .localCheckpoint(eager=True)
    )
    rep_pairs = (
        _shared_shingle_pairs(rsets, id_col, df_cap)
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )

    # within-group pairs: every member pair of a duplicated content is a
    # jaccard-1.0 pair (when the content has ≥1 shingle)
    nonempty = rsets.select(
        F.col(id_col).alias("_chash"), (F.size("sh_set") > 0).alias("_has_sh")
    )
    within = (
        members.join(nonempty, "_chash")
        .filter(F.col("_has_sh") & (F.size("_members") > 1) & F.lit(1.0 >= threshold))
        .select(F.explode(_ordered_pairs("_members")).alias("p"))
        .select("p.doc_a", "p.doc_b", F.lit(1.0).alias("jaccard"))
    )

    # cross-group pairs: expand each qualifying rep pair to all member
    # combinations (same text ⇒ same jaccard); only threshold-passing
    # pairs expand, so the blowup is bounded by the answer size
    ma = members.select(F.col("_chash").alias("doc_a"), F.col("_members").alias("_ma"))
    mb = members.select(F.col("_chash").alias("doc_b"), F.col("_members").alias("_mb"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.explode("_ma").alias("id_a"), F.col("_mb"), F.col("jaccard")
        )
        .select(
            F.explode("_mb").alias("id_b"), F.col("id_a"), F.col("jaccard")
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "jaccard",
        )
    )
    return (
        within.unionByName(cross)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _ordered_pairs(ids: str) -> Column:
    """Every (doc_a, doc_b) pair of the sorted id array column `ids`, doc_a
    before doc_b, as an array of structs: emitted map-side by a flatten of
    nested transforms, with no self-join."""
    return F.flatten(
        F.transform(
            F.col(ids),
            lambda x, i: F.transform(
                F.slice(F.col(ids), i + 2, F.size(F.col(ids))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def _shared_shingle_pairs(sets: DataFrame, id_col: str, df_cap: int) -> DataFrame:
    """(doc_a, doc_b, intersection, size_a, size_b) for every pair of
    precomputed distinct (id, sh_set) rows sharing a shingle: the one
    inverted-index pair count, over which each caller computes its metric
    (callers guarantee uniqueness of content per id)."""
    # hash each shingle to int64 BEFORE the explode/shuffle: the postings
    # shuffle then carries 8-byte keys instead of ~25-byte 3-gram strings
    # (the dominant shuffle of this operator). xxhash64 collisions at
    # corpus scale (~n²/2⁶⁴) are orders below the 6-decimal rounding noise
    # the gates tolerate.
    sh = sets.select(
        F.col(id_col),
        F.explode(F.transform("sh_set", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    # per-doc set sizes straight off the cached sets (map-side, no explode)
    sizes = sets.select(F.col(id_col), F.size("sh_set").alias("set_size"))
    # inverted-index pair generation: group docs per shingle ONCE, then
    # emit each group's ordered pairs map-side — one shuffle of the
    # postings instead of a two-sided self-join. Per-shingle groups are
    # bounded by the df cap (stop-shingles dropped), which is what keeps
    # this subquadratic at 100 TB.
    ids = F.array_sort(F.collect_list(F.col(id_col)))
    # r17 (profiled, VERDICT r16 item 3): AQE coalesces the postings
    # shuffle by its MAP-OUTPUT bytes — the grouped id-lists are small —
    # but the very next operator fans each m-member group out to
    # m·(m−1)/2 pair rows, which AQE cannot see (eventlog: the explode +
    # partial pair-agg stage ran 6 tasks / 0.8-0.9 s of the gate on 32
    # cores; group sizes showed NO skew — max m 25 under the 512 cap —
    # so this is pure under-parallelism, not a hot key). One cheap
    # deterministic exchange of the grouped postings (27 k rows at
    # sf0.1; always ≤ one row per distinct shingle, each ≤ df_cap ids)
    # re-spreads the explode across the cluster. The spread keys on
    # xxhash64(shingle), NOT the shingle itself: a repartition(P,
    # shingle) is byte-identical to the groupBy's own hashpartitioning,
    # so Catalyst collapses it and AQE re-coalesces — measured as a
    # silent no-op plan. The derived deterministic key keeps the
    # exchange (REPARTITION_BY_NUM — AQE never coalesces user
    # repartitions) and is retry-safe (guide §2.5: deterministic, not
    # rand-derived).
    inter = (
        sh.groupBy("shingle")
        .agg(ids.alias("_ids"))
        .filter(F.size("_ids") <= F.lit(df_cap))
        .repartition(
            sets.sparkSession.sparkContext.defaultParallelism,
            F.xxhash64("shingle"),
        )
        .select(F.explode(_ordered_pairs("_ids")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


MINHASH_HASHES = 16
# 8 bands × 2 rows: s-curve midpoint (1/b)^(1/r) = (1/8)^(1/2) ≈ 0.35, so
# candidate recall is meaningful down toward the 0.2 verify threshold
# (capture at J=0.2 ≈ 28%, at 0.35 ≈ 50%, at 0.6 ≈ 96%). The previous
# 4×4 config had its midpoint at ≈ 0.71 — pairs in the 0.2–0.6 range the
# verify stage claims to cover almost never became candidates. More
# hashes (wider signatures) buy a sharper curve at the same midpoint.
MINHASH_BANDS = 8  # 2 rows per band
MINHASH_PRIME = 2147483647  # 2^31 - 1


def _minhash_coeffs(j: int) -> tuple[int, int]:
    """Deterministic affine hash family h_j(x) = (a_j·x + b_j) mod p over a
    28-bit base hash: one md5 per shingle instead of one per (shingle,
    hash-function) — 16× less hashing on the map side.

    Coefficients are derived INDEPENDENTLY per j from md5(j). The previous
    family used a_j = (j+1)·a₀, b_j = (j+1)·b₀' + c — linearly related, so
    h_j(x) = (j+1)·g(x) + c whenever no mod-p wrap occurs; since E[min g]
    ≈ p/|set| ≪ p/16, the SAME shingle minimized every h_j and all 16
    minhashes collapsed to a function of one value. Banding then behaved
    like a single-hash LSH (collision probability ≈ J instead of the
    8-band × 2-row s-curve 1-(1-J²)⁸ the tuning comments assume), and any
    shingle shared across many docs with a small g pooled them all into
    one bucket per band. Independent coefficients restore pairwise-
    independent minhashes. Products stay in int64: a < p ≈ 2³¹, base
    < 2²⁸ ⇒ a·x + b < 2⁵⁹ + 2³¹ (same bound DuckDB's BIGINT oracle uses)."""
    import hashlib

    d = hashlib.md5(f"minhash-{j}".encode()).digest()
    a = (int.from_bytes(d[:8], "big") % (MINHASH_PRIME - 1)) + 1
    b = int.from_bytes(d[8:16], "big") % MINHASH_PRIME
    return a, b


def minhash_signatures(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, h0..h15): minhash signature. Base hash = 28-bit md5 prefix
    (portable across engines), family = affine transforms mod 2^31-1;
    products stay < 2^59 so everything fits signed 64-bit exactly.

    Shuffle-free by construction: a minhash signature is a per-document
    reduction, so it's computed with higher-order array functions inside
    the scan projection (transform + array_min) instead of
    explode→groupBy. At 100 TB this is the difference between zero
    shuffle and shuffling every (doc, shingle) pair in the corpus.
    """
    # empty shingle set => no signature row (same as the exploded form);
    # _shingle_set_df filters on the CHEAP equivalent (≥k tokens ⇔ ≥1
    # shingle) so the pushed-down predicate has no md5 chain in it.
    return minhash_signatures_from_sets(_shingle_set_df(docs, id_col, text_col, k), id_col)


def minhash_signatures_from_sets(
    sets: DataFrame, id_col: str = "doc_id", set_col: str = "sh_set"
) -> DataFrame:
    """Signatures from a precomputed (doc_id, sh_set) DF — lets LSH-then-
    verify pipelines share one shingle pass between banding and exact
    Jaccard.

    r17 (guide §7.3 planning overhead): the 16 affine-min columns are
    built as SQL STRINGS via selectExpr, not nested python-lambda
    Column trees — each F.transform(…, lambda) costs ~10 py4j round
    trips, and this constructor sits inside every minhash consumer
    (lsh/verified/transitivity/grid/incremental: 2.5k round trips ≈
    half the warm wall of dedup_minhash_verified at sf0.1). The parsed
    expressions are IDENTICAL to the former Column form (same functions,
    same literals, same `%` remainder on positive int64 operands), so
    the resolved plan and every result row are unchanged — pinned by
    tests/test_text_fragments.py. Same-session A/B: signature plan
    construction 0.23-0.28 → 0.04-0.05 s."""
    base = f"transform({sql_ref(set_col)}, s -> {md5_long_sql(Fragment('s'), 7)})"
    d = sets.selectExpr(sql_ref(id_col), f"{base} AS _bases")
    exprs = [sql_ref(id_col)]
    for j in range(MINHASH_HASHES):
        a, b = _minhash_coeffs(j)
        exprs.append(
            f"array_min(transform(_bases, "
            f"x -> (x * {a}L + {b}L) % {MINHASH_PRIME}L)) AS h{j}"
        )
    return d.selectExpr(*exprs)


def minhash_lsh_pairs(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Candidate near-dup pairs from LSH banding: 4 bands × 4 hashes; a pair
    is a candidate if any band's 4-tuple matches. Output is the distinct
    candidate pair list (band-agnostic)."""
    sig = minhash_signatures(docs, k, id_col, text_col)
    return _lsh_pairs_from_signatures(sig, id_col)


def banded_from_signatures(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, bucket) LSH band keys from a signature DF — one pass
    over sig: band keys as an inline array-of-structs explode (NOT a
    per-band union, which would re-run the signature scan per band). This
    is the PERSISTABLE index form: write it partitioned/bucketed by
    (band, bucket) and incremental batches probe it without recomputing
    the corpus (incremental_lsh_candidates)."""
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(MINHASH_BANDS)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _lsh_pairs_from_signatures(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    banded = banded_from_signatures(sig, id_col)
    # self-join on (band, bucket): materialize the banded table so the two
    # join sides share one computation; candidate volume is O(sum bucket²),
    # not O(n²) — the LSH contract. localCheckpoint for lifecycle safety
    # (see ngram_jaccard_pairs).
    banded = banded.localCheckpoint(eager=True)
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    b_ = banded.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    return (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_banded_index(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Banded LSH index rows (doc_id, band, bucket) for a corpus — the
    artifact a continuous-crawl pipeline PERSISTS so each new batch probes
    the accumulated index instead of re-deduping the whole corpus."""
    return banded_from_signatures(minhash_signatures(docs, k, id_col, text_col), id_col)


def incremental_lsh_candidates(
    index_banded: DataFrame, new_banded: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate near-dup pairs INVOLVING AT LEAST ONE NEW document: the
    new batch's band rows equi-join the (index ∪ new) band table on
    (band, bucket). Work scales with |new| × bucket occupancy, NOT with
    the corpus — the property that makes continuous dedup sustainable at
    100 TB (the index side is a persisted table partitioned by band and
    bucketable by bucket, so the join co-locates without a corpus-wide
    shuffle; appending the new rows is the only index maintenance).
    Old-old pairs are intentionally absent: they were emitted when their
    batches arrived."""
    probe = new_banded.select(F.col(id_col).alias("_new"), "band", "bucket")
    base = index_banded.unionByName(new_banded).select(
        F.col(id_col).alias("_any"), "band", "bucket"
    )
    return (
        probe.join(base, ["band", "bucket"])
        .filter(F.col("_new") != F.col("_any"))
        .select(
            F.least("_new", "_any").alias("doc_a"),
            F.greatest("_new", "_any").alias("doc_b"),
        )
        .distinct()
    )


def minhash_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH-then-verify: the standard two-stage near-dup pipeline. Stage 1
    (minhash_lsh_pairs) prunes the O(n²) space to bucket-mates; stage 2
    joins each candidate pair back to its shingle SETS (kept as map-side
    arrays, never exploded) and computes exact Jaccard via
    array_intersect — so the expensive exact check runs only on the tiny
    candidate list.

    The shingle sets are computed ONCE and cached: banding derives its
    minhash bases from the same cached sets the verify join reads, so the
    corpus is tokenized/shingled a single time instead of twice."""
    sets = _shingle_set_df(docs, id_col, text_col, k).localCheckpoint(eager=True)
    sig = minhash_signatures_from_sets(sets, id_col)
    cands = _lsh_pairs_from_signatures(sig, id_col)
    a = sets.select(F.col(id_col).alias("doc_a"), F.col("sh_set").alias("set_a"))
    b = sets.select(F.col(id_col).alias("doc_b"), F.col("sh_set").alias("set_b"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming, generated
    with Manku-style banding (Manku/Jain/Das Sarma, WWW'07): split the
    fingerprint into n_bands = max_hamming + 2 contiguous bit bands and
    equi-join on (band, band_key). Completeness is a pigeonhole guarantee —
    ≤ max_hamming differing bits can touch at most max_hamming bands, so
    every qualifying pair matches exactly in ≥ 2 bands. Candidate volume
    is Σ bucket² per band instead of n²/2, and the join is a shuffled
    equi-join (no BroadcastNestedLoopJoin anywhere in the plan).

    Band width (bits // n_bands) sets selectivity: 60-bit fingerprints and
    hamming ≤ 8 give 10 six-bit bands. For corpora where 64 buckets/band
    is too coarse, widen the fingerprint (two longs) or use Manku's
    block-combination keys — the equi-join shape stays the same."""
    n_bands = max_hamming + 2
    base, extra = divmod(bits, n_bands)
    # band b covers [offsets[b], offsets[b+1]): first `extra` bands get an
    # extra bit so all `bits` are covered
    offsets = [0]
    for b in range(n_bands):
        offsets.append(offsets[-1] + base + (1 if b < extra else 0))
    fp = simhash_fingerprints(docs, id_col, text_col, bits)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), offsets[b])
            .bitwiseAND(F.lit((1 << (offsets[b + 1] - offsets[b])) - 1))
            .alias("key"),
        )
        for b in range(n_bands)
    ]
    banded = (
        fp.select(F.col(id_col), F.col("simhash"), F.explode(F.array(*band_structs)).alias("bb"))
        .select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
        .localCheckpoint(eager=True)
    )
    a = banded.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "key")
    b_ = banded.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "key")
    return (
        a.join(b_, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# Edge count below which connected_components runs union-find on the driver.
UNION_FIND_MAX_EDGES = 5_000_000


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: (node, component) where
    component = min node id reachable — the canonical-document grouping
    step that follows pair generation in every dedup pipeline.

    Fast path: the pair graph is the REDUCED output of candidate
    generation (LSH buckets), orders of magnitude smaller than the corpus
    — below UNION_FIND_MAX_EDGES edges a union-find on the driver beats
    the distributed rounds.

    Distributed path: plain min-label propagation over the symmetrized
    edge list — each round joins the current labels across edges, keeps
    the min seen, and stops when no label changes. A label moves one hop
    per round, so it needs as many rounds as the graph's diameter (2-3 for
    near-clique dup clusters; n - 1 for a path of n nodes); per-round
    cost is one shuffle of the edge list, and localCheckpoint keeps the
    lineage flat. When labels still change after `max_iterations` rounds
    it raises a ValueError rather than return unconverged components."""
    # materialize the pair list ONCE before symmetrizing — the union
    # references it twice and would re-run the whole candidate pipeline
    pairs = pairs.select(a_col, b_col).localCheckpoint()
    # the edge count that picks the branch rides on the checkpoint's job
    edges, seen = checkpoint_observed(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct(),
        n="count(1)",
    )
    if seen["n"] < UNION_FIND_MAX_EDGES:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            s, d = r["src"], r["dst"]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by min id so the component label is deterministic
                lo, hi = (rs, rd) if rs < rd else (rd, rs)
                parent[hi] = lo
        rows = sorted((n, find(n)) for n in parent)
        spark = pairs.sparkSession
        schema = edges.select(F.col("src").alias("node")).schema.add(
            "component", edges.schema["src"].dataType
        )
        # r17 A/B: coalescing the parallelized label table to
        # rows/50k slices was tried against the 32-task overhead-bound
        # downstream map stages and REJECTED — it more than DOUBLED both
        # consumers (quality_dedup_grid 4.0→9.1 s, transitivity audit
        # 4.1→7.8 s interleaved same-session): the narrow 1-slice input
        # serialized the join-side work that those 32 tasks were
        # actually parallelizing. Keep the default parallelize slicing.
        return spark.createDataFrame(rows, schema)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        # candidate label for each node: min of own and neighbors' labels
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("_nmin"))
        )
        # the round's checkpoint job also counts the labels it moved
        labels, seen = checkpoint_observed(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left").selectExpr(
                "node",
                "least(component, coalesce(_nmin, component)) AS component",
                "component AS _was",
            ),
            moved="count_if(component <> _was)",
        )
        if not seen["moved"]:
            return labels.drop("_was")
    raise ValueError(
        f"connected components did not converge in max_iterations="
        f"{max_iterations} rounds (min-label propagation needs as many rounds "
        "as the graph's diameter); raise max_iterations"
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(doc_id, simhash): bitwise-majority fingerprint of per-token hashes.
    32 bits keeps the bit-position explode cheap; near-dup = small hamming
    distance (bit_count(xor))."""
    toks = spread_scan(docs, id_col).select(F.col(id_col), F.explode(tokenize(text_col)).alias("tok"))
    hashed = toks.withColumn("th", md5_long("tok"))
    bit = hashed.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        "th",
    ).withColumn("bitval", F.expr("shiftright(th, bit)").bitwiseAND(F.lit(1)))
    votes = bit.groupBy(id_col, "bit").agg(
        F.sum(F.when(F.col("bitval") == 1, 1).otherwise(-1)).alias("vote")
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Exact cosine near-duplicate pairs above threshold, as a DISTRIBUTED
    block self-join (tiled matrix product): vectors hash into `n_blocks`
    row-blocks; every unordered block pair (i, j) is one task that computes
    its tile with vectorized BLAS inside applyInPandas. Nothing transits
    the driver and no side must fit in one executor beyond a single tile
    (~2·n/n_blocks vectors) — the memory knob is n_blocks, the same
    contract as any shuffled join. Shuffle volume is n·n_blocks vector
    copies (distributed-matmul's √P replication, inherent to EXACT
    all-pairs search); for approximate-recall candidate generation at far
    lower cost, use operators/ann.py buckets and re-score exactly.

    Exactness means the DuckDB all-pairs oracle must match bit-for-bit at
    6 decimals — BLAS tile products agree with the sequential fold at that
    precision."""
    import numpy as np
    import pandas as pd

    src = emb.select(F.col(id_col), F.col(vec_col)).withColumn(
        "_blk", F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int")
    )
    # a row in block b participates in every tile {min(b,o), max(b,o)}:
    # one copy per other-block o, so each unordered tile sees both sides
    tiled = src.select(
        id_col,
        vec_col,
        "_blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("_ob"),
    ).select(
        id_col,
        vec_col,
        "_blk",
        F.least("_blk", "_ob").alias("_bi"),
        F.greatest("_blk", "_ob").alias("_bj"),
    )

    def _tile(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        bi, bj = int(key[0]), int(key[1])
        a_pdf = pdf[pdf["_blk"] == bi]
        b_pdf = pdf[pdf["_blk"] == bj] if bi != bj else a_pdf
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        a_m = np.stack(a_pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
        b_m = np.stack(b_pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
        a_m = a_m / np.linalg.norm(a_m, axis=1, keepdims=True)
        b_m = b_m / np.linalg.norm(b_m, axis=1, keepdims=True)
        sims = a_m @ b_m.T
        a_ids = a_pdf[id_col].to_numpy(dtype=np.int64)
        b_ids = b_pdf[id_col].to_numpy(dtype=np.int64)
        mask = sims >= threshold
        if bi == bj:
            # diagonal tile: id_a < id_b dedupes the symmetric matrix
            mask &= a_ids[:, None] < b_ids[None, :]
        li, ri = np.nonzero(mask)
        ida, idb = a_ids[li], b_ids[ri]
        # off-diagonal pairs occur once in arbitrary orientation —
        # canonicalize to (min, max)
        return pd.DataFrame(
            {
                "id_a": np.minimum(ida, idb),
                "id_b": np.maximum(ida, idb),
                "cos_sim": sims[li, ri],
            }
        )

    out = tiled.groupBy("_bi", "_bj").applyInPandas(
        _tile, schema="id_a long, id_b long, cos_sim double"
    )
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def embedding_near_dup_ann(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    n_assign: int = 3,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """APPROXIMATE-candidates near-duplicate pairs — the 100 TB path that
    replaces embedding_near_dup_pairs' exact tiled self-join.

    Candidate generation: spherical IVF. Centroids fit on a bounded
    seeded sample (driver-local Lloyd's on UNIT vectors, so Euclidean
    argmin == cosine argmax); every vector then multi-assigns to its
    `n_assign` nearest lists in one Arrow-batched map pass. A pair is a
    candidate iff the two vectors share at least one list — multi-assign
    is what rescues boundary pairs that straddle a centroid split.

    Re-rank: exact all-pairs cosine WITHIN each list via one BLAS matmul
    per list task. Work drops from n²/2 to Σ|list|²/2 ≈ n²·n_assign²/2L,
    and shuffle volume from n·n_blocks (tiled exact) to n·n_assign vector
    copies. At 100 TB `list_id` is a partition column: each task reads
    one list, lists never meet, and a hot list sub-blocks with the same
    tiling as the exact operator. Returned similarities are exact (BLAS
    re-rank); only candidate RECALL is approximate — measure it with
    embedding_neardup_recall before trusting a threshold.

    `centroids` (optional) injects the coarse lists instead of the
    seeded sample fit — list_id i is then centroids[i]'s list. The
    oracled recall gate passes the DETERMINISTIC per-label means here
    (VERDICT r9 item 2) so a DuckDB twin can replay candidate
    generation; production callers omit it and keep the fit.
    """
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        n_lists = len(C)
    else:
        from pdf_brain_spark.operators.clustering import _lloyd_fit

        # Bucket-fit sample: candidate generation tolerates far coarser
        # centroids than clustering proper, so cap the fit at ~64 points
        # per list instead of KMEANS_FIT_SAMPLE_CAP — the collect is the
        # only driver-side cost in the operator and this keeps it
        # O(n_lists), not O(corpus).
        n_fit = max(1024, 64 * n_lists)
        n_total = emb.count()
        sel = emb.select(F.col(vec_col).cast("array<double>").alias("_v"))
        if n_total > n_fit:
            sel = sel.sample(False, min(1.0, n_fit * 1.1 / n_total), seed).limit(n_fit)
        X = np.asarray([r["_v"] for r in sel.collect()], dtype=np.float64)
        if X.size == 0:
            raise ValueError("embedding_near_dup_ann: empty input")
        Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
        C = _lloyd_fit(Xn, min(n_lists, len(Xn)), seed, 20, 5e-3)
    Cn = C / (np.linalg.norm(C, axis=1, keepdims=True) + 1e-12)
    m = min(n_assign, n_lists)
    vec_type = dict(emb.dtypes)[vec_col]
    id_type = dict(emb.dtypes)[id_col]

    # one mapInPandas emits the (id, vec, list_id) rows directly —
    # measured ~7x faster than pandas_udf + explode (the Generate over
    # ArrowEvalPython output re-materializes the array column per row)
    def _assign_explode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            M = M / (np.linalg.norm(M, axis=1, keepdims=True) + 1e-12)
            top = np.argsort(-(M @ Cn.T), axis=1)[:, :m]
            idx = np.repeat(np.arange(len(pdf)), m)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[idx],
                    vec_col: pdf[vec_col].to_numpy()[idx],
                    "list_id": top.ravel().astype("int32"),
                }
            )

    exploded = emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _assign_explode, schema=f"{id_col} {id_type}, {vec_col} {vec_type}, list_id int"
    )

    def _pairs(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
        )
        if len(pdf) < 2:
            return empty
        M = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        sims = M @ M.T
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mask = (sims >= threshold) & (ids[:, None] < ids[None, :])
        li, ri = np.nonzero(mask)
        if len(li) == 0:
            return empty
        return pd.DataFrame({"id_a": ids[li], "id_b": ids[ri], "cos_sim": sims[li, ri]})

    pairs = exploded.groupBy("list_id").applyInPandas(
        _pairs, schema="id_a long, id_b long, cos_sim double"
    )
    # a pair meeting in several shared lists appears once per list — the
    # sim is identical (exact re-rank), so collapse with max
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.round(F.max("cos_sim"), 6).alias("cos_sim"))
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplicate-span detection (the ExactSubstr idea of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022 — approximated at the token-k-gram grain instead of
    a suffix array, which keeps it a two-shuffle DataFrame pipeline):
    find, for every document, the maximal token spans in which EVERY
    TOKEN is covered by at least one k-gram that appears in >= `min_docs`
    distinct documents. (Islands merge seed positions with gap <= k, so a
    merged span can contain individual k-grams that are not themselves
    duplicated — the guarantee is token coverage by duplicated k-grams,
    which is exactly the ExactSubstr cut-region intent: every token in
    the span participates in some cross-document repeat.) Doc-level
    dedup (minhash/simhash above) misses boilerplate licence blocks,
    navigation chrome, and quoted passages embedded in otherwise-unique
    documents; span detection is what lets a training pipeline CUT the
    duplicated region and keep the rest.

    Shape: one map-side pass builds positional k-grams per doc (the
    unfiltered `kgrams_sql` array that `shingles()` filters, so
    posexplode's index is the start position); grams hash to
    int64 (xxhash64) so the shuffle key is 8 bytes, not the gram text.
    One groupBy on the hash finds grams with >= min_docs distinct docs;
    a left_semi join marks the duplicated positions; one per-doc window
    pass merges seed positions into maximal spans (gaps-and-islands: a
    seed at pos p covers [p, p+k-1], so seeds with pos-gap <= k
    overlap-or-touch and merge). Total work is linear in corpus tokens —
    there is no pair emission anywhere, so unlike the pair-based dedups
    no hot-key m² blowup exists; a boilerplate gram shared by a million
    docs is just a million seed rows, each merged locally in its own
    doc's window. The positional gram rows are localCheckpointed so the
    dup-gram aggregate and the probe side share one tokenize pass.

    Returns one row per maximal span: (id_col, span_start, span_end,
    span_tokens, n_seeds) with token positions 0-based inclusive.
    """
    toks = tokenize_sql(text_col)
    grams = (
        spread_scan(docs, id_col)
        .filter(F.expr(f"size({toks}) >= {k}"))
        .select(F.col(id_col), F.posexplode(F.expr(kgrams_sql(toks, k))).alias("pos", "gram"))
        .filter(F.col("gram").isNotNull())
        .select(id_col, "pos", F.xxhash64("gram").alias("gh"))
        .localCheckpoint(eager=True)
    )
    dup_grams = (
        grams.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    seeds = grams.join(dup_grams, "gh", "left_semi")

    from pyspark.sql.window import Window

    wdoc = Window.partitionBy(id_col).orderBy("pos")
    new_island = (
        F.when(F.col("pos") - F.lag("pos").over(wdoc) > k, 1).otherwise(0)
    )
    return (
        seeds.withColumn("island", F.sum(new_island).over(wdoc))
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_seeds"),
        )
        .withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + F.lit(1)
        )
        .select(id_col, "span_start", "span_end", "span_tokens", "n_seeds")
    )


def cut_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus surgery over `duplicate_spans`: emit the CLEANED corpus —
    every document retained, the duplicated spans removed from its token
    stream — which is the ExactSubstr pipeline's actual output in Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", ACL 2022: cut the repeated substring, keep the document).
    The span analog of `dedup_decision_report`: that operator closes the
    loop for doc-level dedup (keep/drop per doc), this one closes it at
    substring level (keep the doc, drop the duplicated region).

    Output text is the NORMALIZED token stream (lowercased whitespace
    tokens re-joined with single spaces, the same `tokenize()` the span
    detector positions refer to) minus the cut spans — token-level
    surgery, exactly as ExactSubstr operates.

    Shape on top of duplicate_spans' two shuffles: one span aggregate to
    doc grain (collect_list is bounded — spans are disjoint islands, at
    most n_tokens/k per doc), one doc-grain left join, then a fully
    native per-row token filter (filter(toks, (x, i) -> NOT exists(spans,
    s -> s.s <= i <= s.e)) — O(tokens × spans_per_doc) inside codegen,
    no UDF, no extra shuffle). Docs with no spans pass through untouched.

    Returns (id_col, clean_text, n_tokens, tokens_removed, n_spans_cut).
    """
    spans = duplicate_spans(
        docs, k=k, min_docs=min_docs, id_col=id_col, text_col=text_col
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("int").alias("s"),
                F.col("span_end").cast("int").alias("e"),
            )
        ).alias("_spans"),
        F.count(F.lit(1)).alias("_n_spans"),
    )
    toks = tokenize(text_col)
    in_span = lambda sp, i: (i >= sp["s"]) & (i <= sp["e"])
    return (
        docs.join(per_doc, id_col, "left")
        .withColumn("_toks", toks)
        .withColumn(
            "_kept",
            F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
                F.filter(
                    F.col("_toks"),
                    lambda x, i: ~F.exists(
                        F.col("_spans"), lambda sp: in_span(sp, i)
                    ),
                )
            ),
        )
        .select(
            F.col(id_col),
            F.array_join(F.col("_kept"), " ").alias("clean_text"),
            F.size(F.col("_toks")).cast("long").alias("n_tokens"),
            (F.size(F.col("_toks")) - F.size(F.col("_kept")))
            .cast("long")
            .alias("tokens_removed"),
            F.coalesce(F.col("_n_spans"), F.lit(0)).cast("long").alias("n_spans_cut"),
        )
    )


def novelty_scores(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gram-level novelty scoring — the curation weight dual of the
    duplicate-span detector: per document, the fraction of its token
    k-gram INSTANCES whose gram appears in no other document. A
    dedup-aware sampling pipeline up-weights high-novelty documents and
    down-weights boilerplate-heavy ones without any pair enumeration
    (Lee et al. 2022 measure duplication's training cost at exactly this
    substring grain).

    Shape shares the span detector's discipline: one map-side pass
    builds the gram stream hashed to int64 (8-byte shuffle keys), one
    groupBy finds each gram's distinct-doc count, and the gram stream
    re-joins that table on the hash to aggregate per doc — no pair
    emission, so a million-doc boilerplate gram costs a million rows,
    never m². Docs with fewer than k tokens have no grams and report
    NULL novelty (no evidence either way).

    Returns (id_col, n_grams, n_novel, novelty = n_novel / n_grams
    rounded 6, or NULL when n_grams = 0)."""
    grams = (
        spread_scan(docs, id_col)
        .select(F.col(id_col), F.explode(shingles(tokenize_sql(text_col), k)).alias("gram"))
        .select(id_col, F.xxhash64("gram").alias("gh"))
        .localCheckpoint(eager=True)
    )
    gram_docs = grams.groupBy("gh").agg(
        F.count_distinct(F.col(id_col)).alias("nd")
    )
    scored = grams.join(gram_docs, "gh").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("nd") == 1, 1).otherwise(0)).alias("n_novel"),
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


# --------------------------------------------------------------------------
# Robust winnowing (Schleimer, Wilkerson & Aiken 2003, SIGMOD — the MOSS
# fingerprinting algorithm). Public-paper implementation; no reference
# counterpart.
# --------------------------------------------------------------------------

# Positions are packed into the low bits of the winnowing sort key so ONE
# integer window-min implements "minimum hash, ties -> rightmost": key =
# h * POS_MOD + (POS_MOD - pos). Documents are truncated to POS_MOD - 1
# tokens (4M) so the packing cannot collide; h is a 32-bit portable hash,
# so keys stay < 2^54 — exact in BIGINT and in float64-free integer SQL.
WINNOW_POS_MOD = 4_194_304  # 2^22


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprint selection: k-gram portable hashes, one
    window-min per w-gram window, ties to the RIGHTMOST minimum — the
    guarantee (Schleimer et al. §4) is that every w consecutive grams
    contribute >=1 selected fingerprint (so any match of length >= w+k-1
    tokens is detected) at expected density 2/(w+1).

    Plan shape: tokenize + gram explode are map-only; the ONLY exchange
    is the per-document sort the window-min needs — at 100 TB that is
    one doc-grain shuffle, and because the tie-break is packed into the
    sort key there is no second pass, no argmin self-join, and no UDF.
    Short documents (fewer than w grams) degrade to their global
    rightmost-min via the pos=1 truncated window, matching the oracle.

    Returns (doc_id, pos, fp_hash): the 1-based gram position and 32-bit
    gram hash of each selected fingerprint. Output order is
    unspecified — downstream dedup joins don't need one, and a global
    sort here would add a second all-data exchange; callers that need
    deterministic presentation (the oracle gate) sort themselves.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.slice(tokenize(text_col), 1, WINNOW_POS_MOD - 1).alias("tokens"),
    ).filter(F.size("tokens") >= k)
    grams = toks.select(
        "doc_id",
        (F.size("tokens") - (k - 1)).alias("n_grams"),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tokens) - {k - 1}), "
                f"i -> struct(i AS pos, "
                f"concat_ws(' ', slice(tokens, i, {k})) AS gram))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        "n_grams",
        F.col("g.pos").alias("pos"),
        md5_long(Fragment("g.gram"), 8).alias("h"),
    )
    keyed = grams.withColumn(
        "key",
        F.col("h") * WINNOW_POS_MOD + (F.lit(WINNOW_POS_MOD) - F.col("pos")),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    wins = keyed.withColumn("wkey", F.min("key").over(win)).filter(
        (F.col("pos") == 1) | (F.col("pos") <= F.col("n_grams") - (w - 1))
    )
    return (
        wins.select("doc_id", "wkey")
        .distinct()
        .select(
            "doc_id",
            (F.lit(WINNOW_POS_MOD) - F.col("wkey") % WINNOW_POS_MOD)
            .cast("long")
            .alias("pos"),
            # exact unpack: POS_MOD is 2^22, and float64 division here
            # would round h + (POS_MOD-1)/POS_MOD up past 53 mantissa
            # bits for 32-bit hashes — shift, never divide
            F.shiftright(F.col("wkey"), 22).cast("long").alias("fp_hash"),
        )
    )


def fuzzy_domain_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 3,
    domain_cap: int = 100_000,
) -> DataFrame:
    """Edit-distance (Levenshtein) fuzzy pairs over the DISTINCT value
    domain of a column — record linkage for categorical-ish string
    fields (names, labels, codes). The base table reduces to one row
    per distinct value first (one map-side-combinable groupBy), so the
    pairing cost is |domain|², independent of row count: a 100 TB fact
    table with a bounded label space pairs in milliseconds, and each
    pair carries the row counts it would merge. The kernel REFUSES
    unbounded domains (count > domain_cap) rather than silently going
    quadratic — free-text columns belong in the q-gram/shingle family
    (ngram_jaccard_pairs, containment_pairs), not here.

    The pair join is a broadcast non-equi self-join on name_a < name_b
    with the JVM Levenshtein (threshold form, so the DP early-exits at
    max_dist); no Python in the loop. Distances are exact integers."""
    names = df.groupBy(F.col(col).alias("name")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    n = names.count()
    if n > domain_cap:
        raise ValueError(
            f"fuzzy_domain_pairs: {col} has {n} distinct values "
            f"(cap {domain_cap}); use the q-gram family for free text"
        )
    a = names.select(
        F.col("name").alias("name_a"), F.col("n_rows").alias("rows_a")
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("n_rows").alias("rows_b")
    )
    return (
        a.join(F.broadcast(b), F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist",
            F.levenshtein("name_a", "name_b", max_dist).cast("long"),
        )
        .filter(F.col("dist") >= 0)
        .select("name_a", "name_b", "dist", "rows_a", "rows_b")
    )
