"""Generation protocol for the streaming-maintained persisted indexes
(LSH band index, ANN IVF index, rollup partials).

Every foreachBatch writer lands its micro-batch under `batch_id=N` (N >= 0,
monotone from the stream checkpoint) — the replay-idempotence protocol
attested in streaming/events.py. Compaction adds one rule on top so that
CONCURRENT READERS are safe at every instant, without a transactional
table format:

  * a compacted generation is written under a NEGATIVE id,
    `batch_id=-(m+1)`, and declares that it REPLACES every generation
    covering <= m — i.e. every positive generation b <= m and every
    older compacted generation covering m' < m. The +1 offset is load-
    bearing: a compaction whose coverage is exactly batch 0 lands at
    `batch_id=-1`, not the unrepresentable `-0` that would collide with
    the live `batch_id=0` directory itself;
  * the consolidated data is first written to a dot-prefixed temp dir
    (invisible to the generation listing) and then RENAMED to
    `batch_id=-(m+1)` — a single-directory rename, atomic on local disk
    and HDFS — so the new generation appears all-at-once. The rename's
    boolean result is CHECKED: on failure nothing is deleted, so the
    pre-compaction state stays fully intact;
  * superseded directories are deleted only AFTER the rename. A reader
    that resolves the live set through `live_generation_ids` therefore
    sees either the pre-compaction set or the post-compaction set, never
    a mixture: before the rename the negative generation does not exist
    and the positive ones do; after it, precedence excludes the doomed
    positive dirs whether or not their deletes have completed.

Negative ids can never collide with future stream batches (those are
always >= 0), which closes the hole the previous rename-into-
`batch_id=max` design had: nothing the stream will ever write shares a
name with a compacted generation.

Crash recovery is a cleanup, not a repair: if the compactor dies between
rename and deletes, the stale positive dirs are invisible to readers
(precedence) and the next compaction sweep removes them.

Reads: every store read (generations, tombstones, backfills) goes through
`read_generation_dirs`. Store schemas are not constants — the id and
vector columns come from the caller's stream — so it takes the schema
from the Spark row metadata in one data file's footer, read on the
driver: the footer that schema inference would read, without
inference's Spark job. Building a read therefore fires no job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    return HPath, HPath(path).getFileSystem(conf)


# Protocol-version marker: the r7 change to the compacted-generation
# encoding (-(m+1), replacing -m) silently REINTERPRETS any store persisted
# under the old encoding — a pre-existing batch_id=-m dir reads as covering
# m-1, shifting backfill floors and as-of comparisons. The marker's NAME
# carries the version (no file-content round-trip through py4j needed):
# every writer stamps it on first write, and every read path fails fast on
# a store that has generation dirs but no current marker — an old store
# must be rebuilt (or its compacted dirs re-encoded), never misread.
PROTOCOL_MARKER = "_GENERATION_PROTOCOL_V2"
_GEN_PREFIXES = ("batch_id=", "backfill_floor=", "tombstone_floor=")


def stamp_protocol(spark: SparkSession, index_dir: str, force: bool = False) -> None:
    """Idempotently write the protocol-version marker file. Called by
    every generation writer (foreachBatch bodies, backfill, tombstones)
    the first time a store directory comes into existence.

    A store that already holds generation dirs WITHOUT the marker is a
    pre-v2 (or foreign) store: stamping it would launder its
    old-encoding compacted dirs past the read check — the exact
    upgrade-path hole where a checkpointed stream resumes writing into
    an old store and the first batch's stamp makes later reads silently
    misinterpret batch_id=-m. So that case RAISES unless force=True,
    the operator's explicit I-verified-no-negative-generations
    override."""
    HPath, fs = _fs(spark, index_dir)
    p = HPath(f"{index_dir}/{PROTOCOL_MARKER}")
    if fs.exists(p):
        return
    if not force and fs.exists(HPath(index_dir)):
        names = [st.getPath().getName() for st in fs.listStatus(HPath(index_dir))]
        _check_protocol(index_dir, names)
    fs.create(p, True).close()


def _check_protocol(index_dir: str, names: list[str]) -> None:
    """Fail fast when a store holds generation dirs but not the current
    protocol marker — it was written under an older encoding (or by
    foreign code) and would be MISREAD, not merely rejected."""
    if PROTOCOL_MARKER in names:
        return
    if any(n.startswith(_GEN_PREFIXES) for n in names):
        raise ValueError(
            f"store {index_dir} has generation directories but no "
            f"{PROTOCOL_MARKER} marker: it predates the -(m+1) compacted-"
            "generation encoding (or was written by foreign code) and its "
            "negative batch_id dirs would be misread as covering one batch "
            "less than intended. Rebuild the store from facts, or verify "
            "no compacted (negative) generations exist and restamp with "
            "stamp_protocol(force=True)."
        )


def _list_names(spark: SparkSession, index_dir: str) -> list[str]:
    """Child names of index_dir with the protocol check applied —
    the single chokepoint every generation-listing helper goes through."""
    HPath, fs = _fs(spark, index_dir)
    if not fs.exists(HPath(index_dir)):
        return []
    names = [st.getPath().getName() for st in fs.listStatus(HPath(index_dir))]
    _check_protocol(index_dir, names)
    return names


# The key under which Spark's parquet writer records the written frame's
# schema in every file footer (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    """Spark's file-index filter (InMemoryFileIndex.shouldFilterOutPathName):
    names it never scans as data."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(fs, HPath, dirs: list[str]):
    """A data file that a scan of `dirs` would read, or None: depth-first
    in listing order, stopping at the first one. Every file of a store
    has the same schema, so any one will do, and each entry looked at
    costs py4j round trips on every store read."""

    def first_in(paths):
        for p in paths:
            for st in fs.listStatus(p):
                path = st.getPath()
                if _hidden(path.getName()):
                    continue
                found = first_in([path]) if st.isDirectory() else path
                if found is not None:
                    return found
        return None

    return first_in([p for p in map(HPath, dirs) if fs.exists(p)])


def read_generation_dirs(
    spark: SparkSession, dirs: list[str], base_path: str | None = None
):
    """Read generation dirs of one store as one frame — the single way
    this package reads a generation store.

    The schema comes from the Spark row metadata in the footer of one
    data file of `dirs` (_first_data_file), read on the driver through
    the Hadoop FS and parquet's ParquetFileReader. Every file of a store
    is written from the same frame shape, so this is the schema that
    inference with mergeSchema off reads from its one footer; inference
    reads it in a Spark job (100-150 ms warm on 4 vCPU), this with no job
    (~20-40 ms). Hive partition columns (batch_id, term_bucket, list_id,
    backfill_floor under `base_path`) are still discovered from the
    paths, as without a schema. Raises ValueError when no Spark-written
    data file is found."""
    import json

    from pyspark.sql.types import StructType

    HPath, fs = _fs(spark, dirs[0])
    path = _first_data_file(fs, HPath, dirs)
    if path is None:
        raise ValueError(f"generation dirs {dirs} hold no data file to read")
    parquet = spark._jvm.org.apache.parquet.hadoop
    footer = parquet.ParquetFileReader.open(
        parquet.util.HadoopInputFile.fromPath(path, spark._jsc.hadoopConfiguration())
    )
    try:
        meta = footer.getFooter().getFileMetaData().getKeyValueMetaData()
        schema = meta.get(_SPARK_ROW_METADATA)
    finally:
        footer.close()
    if schema is None:
        raise ValueError(
            f"generation dirs {dirs}: data file {path.toString()} was not "
            "written by Spark (no row metadata in its footer)"
        )
    reader = spark.read.schema(StructType.fromJson(json.loads(schema)))
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return reader.parquet(*dirs)


# ---------------------------------------------------------------------------
# Write-time (bitemporal) key. The store's namespaces are keyed by COVERAGE
# (stream batch ids / backfill floors), so `asof` time travel answers
# "corrected history as of batch N" — a backfill written LATER with floor
# <= N participates. To also answer "what batch N's READER saw" (the
# reproduce-a-training-run's-input question) each generation dir gets a
# monotone WRITE-SEQUENCE marker at write time: an empty `_wseq.<k>` file
# inside the dir (underscore-prefixed, so parquet readers ignore it; it
# travels with the dir through compaction's atomic rename). k is
# max(existing)+1 under the store's single-writer discipline (one stream +
# serialized repair/compaction — the same assumption the floor contracts
# already make). A foreachBatch REPLAY overwrites its dir and re-records,
# taking a fresh (higher) seq — the write-time key reflects the replay,
# which is the honest answer under at-least-once delivery.
# ---------------------------------------------------------------------------

# NOTE the "." separator, not "=": Spark's file-index filter drops
# underscore-prefixed files UNLESS the name contains "=" (which reads as a
# partition dir) — `_wseq=3` would be scanned as a data file and fail
_WSEQ_PREFIX = "_wseq."


def _dir_wseq(fs, HPath, dir_path: str) -> int | None:
    """The write-sequence of one generation dir (None if never recorded —
    e.g. a compactor crash between rename and record; treated as newer
    than any snapshot, the conservative reading)."""
    p = HPath(dir_path)
    if not fs.exists(p):
        return None
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith(_WSEQ_PREFIX):
            try:
                return int(name[len(_WSEQ_PREFIX):])
            except ValueError:
                continue
    return None


def write_seqs(spark: SparkSession, store_dir: str) -> dict[str, int]:
    """dir-name -> write-sequence for every generation dir that has one."""
    HPath, fs = _fs(spark, store_dir)
    out = {}
    for name in _list_names(spark, store_dir):
        if not name.startswith(_GEN_PREFIXES):
            continue
        w = _dir_wseq(fs, HPath, f"{store_dir}/{name}")
        if w is not None:
            out[name] = w
    return out


def record_wseq(spark: SparkSession, store_dir: str, dir_name: str) -> int:
    """Stamp `store_dir/dir_name` with the next write-sequence (called by
    writers immediately after the dir lands / renames in). Idempotent per
    dir: re-recording an already-stamped dir is a no-op."""
    HPath, fs = _fs(spark, store_dir)
    existing = _dir_wseq(fs, HPath, f"{store_dir}/{dir_name}")
    if existing is not None:
        return existing
    nxt = max(write_seqs(spark, store_dir).values(), default=0) + 1
    fs.create(HPath(f"{store_dir}/{dir_name}/{_WSEQ_PREFIX}{nxt}"), True).close()
    return nxt


def generation_ids(spark: SparkSession, index_dir: str) -> list[int]:
    """All `batch_id=<int>` generation ids present under index_dir
    (positive stream batches and negative compacted generations),
    via the Hadoop FileSystem API so the same code serves local disk,
    HDFS, and object stores. [] if the directory doesn't exist."""
    out = []
    for name in _list_names(spark, index_dir):
        if not name.startswith("batch_id="):
            continue
        try:
            out.append(int(name.split("=", 1)[1]))
        except ValueError:
            continue
    return sorted(out)


def coverage(gen_id: int) -> int:
    """The highest stream batch a generation accounts for: a positive
    generation covers itself; a compacted generation -(m+1) covers
    0..m. The offset keeps coverage-0 representable (batch_id=-1)
    instead of colliding with batch_id=0 (the former -m encoding wrote
    a coverage-0 compaction onto the live batch-0 directory)."""
    return -gen_id - 1 if gen_id < 0 else gen_id


def compacted_id(cov: int) -> int:
    """The generation id of a compacted generation covering 0..cov."""
    return -(cov + 1)


def live_generation_ids(ids: list[int]) -> list[int]:
    """Apply compaction precedence to a raw generation listing: the
    newest compacted generation (largest coverage m* among negatives)
    replaces every generation covering <= m*. Returns the live set —
    [compacted_id(m*)] plus every positive batch > m* — or all positives when no
    compacted generation exists. Reading exactly this set yields each
    row exactly once at ANY point of a compaction or a post-crash
    state."""
    negs = [g for g in ids if g < 0]
    if not negs:
        return sorted(ids)
    m_star = max(coverage(g) for g in negs)
    return sorted([compacted_id(m_star)] + [g for g in ids if g >= 0 and g > m_star])


def live_generation_dirs(spark: SparkSession, index_dir: str) -> list[str]:
    """Paths of the live generations (precedence applied)."""
    return [
        f"{index_dir}/batch_id={g}"
        for g in live_generation_ids(generation_ids(spark, index_dir))
    ]


def _coverage_col():
    """`coverage()` as a column expression over the hive `batch_id`
    partition column — exact for both namespaces (positive stream batch
    b covers b; compacted -(m+1) covers m)."""
    from pyspark.sql import functions as F

    b = F.col("batch_id")
    return F.when(b < 0, -b - 1).otherwise(b)


def backfill_floors(spark: SparkSession, index_dir: str) -> list[int]:
    """All `backfill_floor=<int>` generation dirs under index_dir — the
    REPLACEMENT-semantics namespace (see streaming/events.py::
    backfill_rollup): a backfill generation carries corrected FULL
    partials for its buckets and declares that, for those buckets, it
    supersedes every additive generation covering <= its floor. A
    compacted generation -m in turn supersedes backfill dirs with
    floor <= m (they were materialized into it, or were already dead) —
    the same precedence shape as the additive namespace, so the two
    compose: readers consult only floors above the newest compacted
    coverage."""
    out = []
    for name in _list_names(spark, index_dir):
        if not name.startswith("backfill_floor="):
            continue
        try:
            out.append(int(name.split("=", 1)[1]))
        except ValueError:
            continue
    return sorted(out)


# ---------------------------------------------------------------------------
# Generic mergeable-partials store: the shared machinery behind the rollup
# and histogram maintenance — per-batch additive partials (integer-mergeable
# value columns at bucket grain), backfill generations with replacement
# semantics, and a floor-aware compactor that materializes the reader's own
# selection. Parameterized by (bucket_cols, value_cols); the domain modules
# own the partial computation and the serve-time presentation.
# ---------------------------------------------------------------------------


def kept_partial_rows(
    spark: SparkSession,
    store_dir: str,
    bucket_cols: list[str],
    value_cols: list[str],
    upto: int | None = None,
    floor_cols: list[str] | None = None,
    asof_wseq: int | None = None,
):
    """The partial rows the serve semantics keeps — ONE selection shared
    by readers and the compactor so they can never disagree:

      * additive: live generations (compaction precedence), optionally
        restricted to coverage <= upto;
      * backfill: dirs with floor > m* (the newest compacted coverage —
        floors at or below it were materialized by a compaction and the
        dirs are dead, swept later), optionally floor <= upto;
      * per backfilled FLOOR GROUP: rows of the NEWEST applicable
        backfill, plus additive rows with coverage strictly above that
        floor (late additive data on top of the correction);
        non-backfilled groups keep all additive rows.

    `floor_cols` is the REPLACEMENT GRAIN — the key at which a backfill
    supersedes additive history. It defaults to `bucket_cols`, which is
    right when corrections stay within their bucket (the rollup: a
    re-measured hour is still that hour). When corrections MOVE rows
    between buckets — a value-keyed histogram, where fixing a value
    changes its cell — the floor grain must be the stable part of the
    key (e.g. just event_type) and the backfill must carry that group's
    COMPLETE corrected partials, else stale cells the correction
    vacated would survive.

    `asof_wseq` is WRITE-TIME travel (mutually exclusive with `upto`):
    restrict the raw dir listing to dirs recorded at write-sequence
    <= asof_wseq, then run the normal precedence/backfill selection on
    that SUBSET — exactly the resolution a reader performed at that
    instant. A compacted generation recorded AFTER asof_wseq means dirs
    the historical reader saw have since been deleted, so the snapshot
    is unreconstructable and this raises (the write-time analogue of
    the coverage-retention error above; conservative — a crashed-
    compactor's surviving sources count as retired too)."""
    from pyspark.sql import functions as F

    floor_cols = list(floor_cols) if floor_cols is not None else list(bucket_cols)
    if asof_wseq is not None:
        if upto is not None:
            raise ValueError("pass either upto (coverage) or asof_wseq (write-time), not both")
        seqs = write_seqs(spark, store_dir)
        raw_ids = generation_ids(spark, store_dir)
        late_compactions = [
            g
            for g in raw_ids
            if g < 0 and seqs.get(f"batch_id={g}", float("inf")) > asof_wseq
        ]
        if late_compactions:
            raise ValueError(
                f"write-time snapshot at wseq {asof_wseq} was retired: a "
                f"compaction (generation {late_compactions}) recorded after "
                "it deleted directories that snapshot's reader saw. "
                "Write-time travel reaches back only to the newest "
                "compaction's write."
            )
        vis_ids = [
            g for g in raw_ids if seqs.get(f"batch_id={g}", float("inf")) <= asof_wseq
        ]
        ids = live_generation_ids(vis_ids)
        m_star = max([coverage(g) for g in ids if g < 0], default=-1)
        floors = [
            k
            for k in backfill_floors(spark, store_dir)
            if k > m_star
            and seqs.get(f"backfill_floor={k}", float("inf")) <= asof_wseq
        ]
    else:
        ids = live_generation_ids(generation_ids(spark, store_dir))
        m_star = max([coverage(g) for g in ids if g < 0], default=-1)
        floors = [k for k in backfill_floors(spark, store_dir) if k > m_star]
    if upto is not None:
        if upto < m_star:
            # the documented compaction-retention limit on time travel, as
            # its own error (not the generic no-live-generations fallthrough)
            raise ValueError(
                f"snapshot at batch {upto} was retired by a compaction "
                f"covering {m_star}: time travel reaches back only to the "
                "newest compacted coverage (the retention trade of "
                "compacting). Recompute from facts for older snapshots."
            )
        ids = [g for g in ids if coverage(g) <= upto]
        floors = [k for k in floors if k <= upto]
    cols = list(bucket_cols) + list(value_cols)
    adds = None
    if ids:
        adds = read_generation_dirs(
            spark, [f"{store_dir}/batch_id={g}" for g in ids], store_dir
        ).select(*cols, _coverage_col().alias("_cov"))
    if not floors:
        if adds is None:
            raise ValueError(f"partials store {store_dir} has no live generations")
        return adds.drop("_cov")
    backs = read_generation_dirs(
        spark, [f"{store_dir}/backfill_floor={k}" for k in floors], store_dir
    )
    fl = backs.groupBy(*floor_cols).agg(F.max("backfill_floor").alias("_fl"))
    backs_kept = (
        backs.join(fl, floor_cols)
        .filter(F.col("backfill_floor") == F.col("_fl"))
        .select(*cols)
    )
    if adds is None:
        return backs_kept
    adds_kept = (
        adds.join(F.broadcast(fl), floor_cols, "left")
        .filter(F.col("_fl").isNull() | (F.col("_cov") > F.col("_fl")))
        .select(*cols)
    )
    return adds_kept.unionByName(backs_kept)


def backfill_partials(
    spark: SparkSession,
    store_dir: str,
    partial_df,
    floor: int,
    overwrite: bool = False,
) -> None:
    """Write a backfill generation (replacement semantics — see
    backfill_floors): `partial_df` must hold the CORRECTED full partials
    for the floor groups it covers, at the store's partial schema.

    A floor can be used ONCE: unlike tombstones (pure key sets that
    union), two backfills at one floor cannot compose — the second's
    buckets would silently revert the first's to uncorrected additive
    history if it overwrote, and same-floor rows would double-count if
    dirs unioned. So an occupied floor RAISES; pass overwrite=True only
    to retry the SAME logical backfill after a crash (the write is a
    single dir overwrite — atomic-on-appearance to readers). A new
    repair between the same stream batches should either merge its
    corrections into one backfill frame or wait for the frontier to
    advance to a fresh floor. Floor contract: above the newest compacted
    coverage, and covering only committed batches."""
    m_star = max(
        [coverage(g) for g in generation_ids(spark, store_dir) if g < 0],
        default=-1,
    )
    if floor <= m_star:
        raise ValueError(
            f"backfill floor {floor} is at or below the newest compacted "
            f"coverage {m_star}: it would be superseded on arrival. "
            "Backfill above the compaction frontier (or recompute from facts)."
        )
    if not overwrite and floor in backfill_floors(spark, store_dir):
        raise ValueError(
            f"backfill floor {floor} is already occupied: overwriting would "
            "revert the earlier correction's buckets. Merge the corrections "
            "into one backfill, use a fresher committed floor, or pass "
            "overwrite=True to retry the same logical backfill."
        )
    stamp_protocol(spark, store_dir)
    partial_df.write.mode("overwrite").parquet(
        f"{store_dir}/backfill_floor={floor}"
    )
    record_wseq(spark, store_dir, f"backfill_floor={floor}")


def compact_partials(
    spark: SparkSession,
    store_dir: str,
    upto_batch_id: int,
    bucket_cols: list[str],
    value_cols: list[str],
    floor_cols: list[str] | None = None,
    merge_exprs: list | None = None,
) -> int:
    """Floor-aware partials compaction: merge every live additive
    generation covering ≤ upto_batch_id AND every applicable backfill
    generation (floor in (m*, upto]) into one compacted generation
    holding the bucket-grain RESOLVED partials, computed by the same
    `kept_partial_rows` the readers use. The compacted id is
    compacted_id(max(coverages, floors)), so it supersedes both the
    consumed additive dirs AND the consumed backfill dirs; deletes
    happen after the atomic rename, and dead dirs from either namespace
    are swept. Returns the number of generations merged.

    `merge_exprs` is the store's MERGE MONOID — a list of aliased
    aggregate expressions (one per value column) applied per bucket.
    Default: integer SUM per value column (the rollup/histogram/term
    stores). Any commutative, associative aggregate whose result stays
    at the partial schema works — the OHLC store merges with min/max
    over ordering structs — because compaction must be a no-op under
    the reader's own re-aggregation: merge(merge(a,b),c) =
    merge(a,b,c)."""
    from pyspark.sql import functions as F

    HPath, fs = _fs(spark, store_dir)
    all_ids = generation_ids(spark, store_dir)
    live = live_generation_ids(all_ids)
    m_star = max([coverage(g) for g in live if g < 0], default=-1)
    all_floors = backfill_floors(spark, store_dir)
    # sweep: additive dirs superseded by precedence, backfill dirs at or
    # below the compaction frontier — both invisible to readers
    for g in set(all_ids) - set(live):
        fs.delete(HPath(f"{store_dir}/batch_id={g}"), True)
    for k in all_floors:
        if k <= m_star:
            fs.delete(HPath(f"{store_dir}/backfill_floor={k}"), True)
    src_add = [g for g in live if coverage(g) <= upto_batch_id]
    src_fl = [k for k in all_floors if m_star < k <= upto_batch_id]
    if len(src_add) + len(src_fl) < 2:
        return 0
    if all(g < 0 for g in src_add) and not src_fl:
        return 0  # lone compacted gen: nothing new arrived at this coverage
    m = max([coverage(g) for g in src_add] + src_fl)
    dest = compacted_id(m)
    if merge_exprs is None:
        merge_exprs = [F.sum(c).alias(c) for c in value_cols]
    merged = (
        kept_partial_rows(
            spark, store_dir, bucket_cols, value_cols,
            upto=upto_batch_id, floor_cols=floor_cols,
        )
        .groupBy(*bucket_cols)
        .agg(*merge_exprs)
    )
    tmp = f"{store_dir}/.compact_tmp_{m}"
    fs.delete(HPath(tmp), True)
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    if not fs.rename(HPath(tmp), HPath(f"{store_dir}/batch_id={dest}")):
        raise IOError(
            f"compact_partials: rename {tmp} -> batch_id={dest} failed; "
            "aborting with sources intact (nothing was deleted)"
        )
    record_wseq(spark, store_dir, f"batch_id={dest}")
    for g in src_add:
        if g != dest:
            fs.delete(HPath(f"{store_dir}/batch_id={g}"), True)
    for k in src_fl:
        fs.delete(HPath(f"{store_dir}/backfill_floor={k}"), True)
    return len(src_add) + len(src_fl)


# ---------------------------------------------------------------------------
# Row-store deletion (tombstones): the governance operation — remove
# specific keys (a revoked document, a right-to-be-forgotten user's
# vectors) from an append-only index without rewriting it in place. A
# tombstone generation `tombstone_floor=K` holds the KEYS to delete and
# declares that matching rows in additive generations covering <= K are
# dead; a key re-ingested in a LATER batch is a fresh insert and survives.
# Same reader-safety story as backfill: the dir appears atomically,
# readers resolve precedence (a compacted generation -m retires tombstones
# with floor <= m — their deletions were materialized), and compaction
# sweeps the dead dirs.
# ---------------------------------------------------------------------------


def _tombstone_dirs(spark: SparkSession, index_dir: str) -> list[tuple[int, str]]:
    """(floor, dir-name) for every tombstone dir. Tombstone dirs are
    APPEND-ONLY as a set: each delete call creates a NEW dir
    `tombstone_floor=<K>` or `tombstone_floor=<K>_<serial>` rather than
    overwriting — a second deletion at the same floor must not wipe the
    first one's keys (they union on read), and never rewriting an
    existing dir keeps every instant reader-safe with no swap window.
    The floor parses from the part before the serial suffix."""
    out = []
    for name in _list_names(spark, index_dir):
        if not name.startswith("tombstone_floor="):
            continue
        try:
            out.append((int(name.split("=", 1)[1].split("_")[0]), name))
        except ValueError:
            continue
    return sorted(out)


def tombstone_floors(spark: SparkSession, index_dir: str) -> list[int]:
    """Distinct tombstone floors present under index_dir."""
    return sorted({k for k, _ in _tombstone_dirs(spark, index_dir)})


def write_tombstones(spark: SparkSession, index_dir: str, keys_df, floor: int) -> None:
    """Write a tombstone generation: `keys_df` holds the key columns of
    the rows to delete from generations covering <= floor. Each call
    lands in a FRESH dir (serial-suffixed when the floor is reused) —
    deletions at the same floor accumulate by union instead of the
    overwrite that would silently resurrect earlier deletions, and
    readers never observe a dir being rewritten. Floor contract: above
    the newest compacted coverage (deletions at or below it were
    already materialized or are unreachable), covering only committed
    batches."""
    m_star = max(
        [coverage(g) for g in generation_ids(spark, index_dir) if g < 0],
        default=-1,
    )
    if floor <= m_star:
        raise ValueError(
            f"tombstone floor {floor} is at or below the newest compacted "
            f"coverage {m_star}: those generations were already materialized. "
            "Tombstone above the compaction frontier."
        )
    existing = {name for _, name in _tombstone_dirs(spark, index_dir)}
    name = f"tombstone_floor={floor}"
    serial = 2
    while name in existing:
        name = f"tombstone_floor={floor}_{serial}"
        serial += 1
    stamp_protocol(spark, index_dir)
    keys_df.distinct().write.mode("overwrite").parquet(f"{index_dir}/{name}")
    record_wseq(spark, index_dir, name)


def kept_index_rows(
    spark: SparkSession,
    index_dir: str,
    key_cols: list[str],
    upto: int | None = None,
):
    """Row-store counterpart of kept_partial_rows: the live generations'
    rows minus tombstoned ones — a row from a generation with coverage c
    is dead iff some applicable tombstone for its key has floor >= c.
    Returns all data columns plus the hive partition columns (batch_id,
    and e.g. list_id for the ANN layout); readers that don't want
    batch_id drop it. ONE selection shared by search paths, probe paths,
    and the compactor."""
    from functools import reduce

    from pyspark.sql import functions as F

    ids = live_generation_ids(generation_ids(spark, index_dir))
    m_star = max([coverage(g) for g in ids if g < 0], default=-1)
    tdirs = [(k, name) for k, name in _tombstone_dirs(spark, index_dir) if k > m_star]
    if upto is not None:
        if upto < m_star:
            raise ValueError(
                f"snapshot at batch {upto} was retired by a compaction "
                f"covering {m_star}: time travel reaches back only to the "
                "newest compacted coverage. Recompute from facts for "
                "older snapshots."
            )
        ids = [g for g in ids if coverage(g) <= upto]
        tdirs = [(k, name) for k, name in tdirs if k <= upto]
    if not ids:
        raise ValueError(f"index store {index_dir} has no live generations")
    rows = read_generation_dirs(
        spark, [f"{index_dir}/batch_id={g}" for g in ids], index_dir
    )
    if not tdirs:
        return rows
    # per-dir reads with the floor attached as a literal (serial-suffixed
    # dir names are not hive-parsable, by design — see _tombstone_dirs);
    # keys renamed so the anti-join condition names each side unambiguously
    tkeys = [f"_t{i}" for i in range(len(key_cols))]
    tombs = reduce(
        lambda a, b: a.unionByName(b),
        [
            read_generation_dirs(spark, [f"{index_dir}/{name}"]).select(
                *[F.col(c).alias(t) for c, t in zip(key_cols, tkeys)], F.lit(k).alias("_tf")
            )
            for k, name in tdirs
        ],
    )
    dead = reduce(
        lambda a, b: a & b,
        [F.col(c) == F.col(t) for c, t in zip(key_cols, tkeys)],
    ) & (F.col("_tf") >= _coverage_col())
    return rows.join(F.broadcast(tombs), dead, "left_anti")


def compact_index_rows(
    spark: SparkSession,
    index_dir: str,
    upto_batch_id: int,
    key_cols: list[str],
    write_kept,
    min_sources: int = 2,
) -> int:
    """Tombstone-aware row-store compaction: materialize the reader's own
    selection (kept_index_rows restricted to coverage <= upto) into one
    compacted generation via `write_kept(kept_df, tmp_dir)` (each index
    keeps its own layout — coalesce for band rows, partitionBy(list_id)
    for ANN lists), renamed in atomically as batch_id=compacted_id(m)
    where m covers both the consumed additive generations and the
    consumed tombstones;
    then delete sources and consumed tombstone dirs, sweeping dead dirs
    from both namespaces. Returns the number of generations (additive +
    tombstone) merged."""
    HPath, fs = _fs(spark, index_dir)
    all_ids = generation_ids(spark, index_dir)
    live = live_generation_ids(all_ids)
    m_star = max([coverage(g) for g in live if g < 0], default=-1)
    tdirs = _tombstone_dirs(spark, index_dir)
    for g in set(all_ids) - set(live):
        fs.delete(HPath(f"{index_dir}/batch_id={g}"), True)
    for k, name in tdirs:
        if k <= m_star:
            fs.delete(HPath(f"{index_dir}/{name}"), True)
    src_add = [g for g in live if coverage(g) <= upto_batch_id]
    src_t = [(k, name) for k, name in tdirs if m_star < k <= upto_batch_id]
    if len(src_add) + len(src_t) < max(min_sources, 1):
        return 0
    if all(g < 0 for g in src_add) and not src_t:
        return 0  # lone compacted gen: nothing new arrived at this coverage
    m = max([coverage(g) for g in src_add] + [k for k, _ in src_t])
    dest = compacted_id(m)
    kept = kept_index_rows(spark, index_dir, key_cols, upto=upto_batch_id).drop(
        "batch_id"
    )
    tmp = f"{index_dir}/.compact_tmp_{m}"
    fs.delete(HPath(tmp), True)
    write_kept(kept, tmp)
    if not fs.rename(HPath(tmp), HPath(f"{index_dir}/batch_id={dest}")):
        raise IOError(
            f"compact_index_rows: rename {tmp} -> batch_id={dest} failed; "
            "aborting with sources intact (nothing was deleted)"
        )
    record_wseq(spark, index_dir, f"batch_id={dest}")
    for g in src_add:
        if g != dest:
            fs.delete(HPath(f"{index_dir}/batch_id={g}"), True)
    for _, name in src_t:
        fs.delete(HPath(f"{index_dir}/{name}"), True)
    return len(src_add) + len(src_t)
