"""The generation lifecycle of the streaming-maintained persisted stores,
one for both store families: the ten mergeable-partials sketch stores,
each declared once as a `PartialsStore` (rollup, value histogram, term
counts, OHLC, KMV, regression, bitmap, CMS, MinHash, novelty — see
streaming/events.py), and the three row-index stores, each declared once
as an `IndexStore` (the LSH band index and the FTS index in
streaming/events.py, the IVF index in streaming/ann_ingest.py).

A store is a directory of generations, an LSM-style design (O'Neil et
al., "The Log-Structured Merge-Tree", Acta Informatica 1996):

  * every foreachBatch writer lands its micro-batch under `batch_id=N`
    (N >= 0, monotone from the stream checkpoint), touching nothing
    else — the replay-idempotence protocol;
  * OVERLAY generations correct what the additive ones hold, each under
    a floor K: a backfill `backfill_floor=K` replaces the partials of the
    groups it carries (sketch stores), a tombstone `tombstone_floor=K`
    deletes the rows of the keys it lists (row stores), in generations
    covering <= K;
  * a compacted generation is written under a NEGATIVE id,
    `batch_id=-(m+1)`, and declares that it REPLACES every generation
    and overlay covering <= m. The +1 offset is load-bearing: a
    compaction whose coverage is exactly batch 0 lands at `batch_id=-1`,
    not the unrepresentable `-0` that would collide with the live
    `batch_id=0` directory itself. The newest compacted coverage is the
    store's FRONTIER m*.

Every operation (read, batch write, delete, backfill, compaction) starts
from ONE listing of the store root (`list_store`), parsed once into the
raw and live generations, m*, the overlay dirs and the marker names; the
overlay-floor check, the retention check and the compaction commit all
work from that snapshot. The commit (`commit_compaction`) is the one
write path for a compacted generation, so CONCURRENT READERS are safe at
every instant without a transactional table format:

  * the consolidated data is first written to a dot-prefixed temp dir
    (invisible to the listing) and then RENAMED to `batch_id=-(m+1)` — a
    single-directory rename, atomic on local disk and HDFS — so the new
    generation appears all-at-once. The rename's boolean result is
    CHECKED: on failure nothing is deleted, so the pre-compaction state
    stays fully intact;
  * superseded directories are deleted only AFTER the rename. A reader
    resolving the live set through the listing therefore sees either the
    pre-compaction set or the post-compaction set, never a mixture:
    before the rename the negative generation does not exist and the
    positive ones do; after it, precedence excludes the doomed dirs
    whether or not their deletes have completed.

Negative ids can never collide with future stream batches (those are
always >= 0). Crash recovery is a cleanup, not a repair: if the compactor
dies between rename and deletes, the stale dirs are invisible to readers
(precedence) and the next compaction's sweep removes them.

Reads: every store read (generations, tombstones, backfills) goes through
`read_generation_dirs`. Store schemas are not constants — the partials
and index rows come from the caller's frames — so it takes the schema
from the Spark row metadata in one data file's footer, read on the
driver: the footer that schema inference would read, without
inference's Spark job. Building a read therefore fires no job.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


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
# every writer stamps it on first write, and every listing fails fast on
# a store that has generation dirs but no current marker — an old store
# must be rebuilt (or its compacted dirs re-encoded), never misread.
PROTOCOL_MARKER = "_GENERATION_PROTOCOL_V2"
_PROTOCOL_REBUILD = (
    "it predates the -(m+1) compacted-generation encoding (or was written "
    "by foreign code) and its negative batch_id dirs would be misread as "
    "covering one batch less than intended. Rebuild the store from facts, "
    "or verify no compacted (negative) generations exist and restamp with "
    "stamp_protocol(force=True)."
)
_GEN_PREFIXES = ("batch_id=", "backfill_floor=", "tombstone_floor=")


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


def frontier(ids) -> int:
    """m*: the newest compacted coverage among generation ids (-1 when no
    compacted generation exists)."""
    return max((coverage(g) for g in ids if g < 0), default=-1)


def live_generation_ids(ids) -> list[int]:
    """Apply compaction precedence to a raw generation listing: the
    newest compacted generation -(m*+1) replaces every generation
    covering <= m*. Returns the live set — that generation plus every
    positive batch > m*, or all positives when no compacted generation
    exists. Reading exactly this set yields each row exactly once at ANY
    point of a compaction or a post-crash state."""
    m = frontier(ids)
    return sorted(([compacted_id(m)] if m >= 0 else []) + [g for g in ids if g > m])


@dataclass(frozen=True)
class StoreListing:
    """One listing of a store root, parsed once.

      * `raw` — every `batch_id=<g>` generation (positive stream batches
        and compacted generations), `live` — the precedence-resolved
        subset, `m_star` — the frontier;
      * `overlays` — (floor, dir name) of every backfill and tombstone
        dir. Tombstone dirs are APPEND-ONLY as a set: each delete lands
        in a NEW dir `tombstone_floor=<K>` or `tombstone_floor=<K>_<serial>`,
        so deletions at one floor union on read and no dir is ever
        rewritten; the floor parses from the part before the serial;
      * `names` — every child name, markers included."""

    root: str
    names: frozenset[str]
    raw: list[int]
    live: list[int]
    m_star: int
    overlays: list[tuple[int, str]]

    @classmethod
    def parse(cls, root: str, names) -> StoreListing:
        raw, overlays = [], []
        for name in names:
            kind, _, value = name.partition("=")
            try:
                if kind == "batch_id":
                    raw.append(int(value))
                elif kind in ("backfill_floor", "tombstone_floor"):
                    overlays.append((int(value.split("_")[0]), name))
            except ValueError:
                continue
        return cls(
            root,
            frozenset(names),
            sorted(raw),
            live_generation_ids(raw),
            frontier(raw),
            sorted(overlays),
        )

    @property
    def floors(self) -> list[int]:
        """Distinct overlay floors."""
        return sorted({k for k, _ in self.overlays})

    def dirs(self, ids) -> list[str]:
        return [f"{self.root}/batch_id={g}" for g in ids]

    def require(self, marker: str, rebuild: str) -> None:
        """Fail fast when the store holds generation dirs but not `marker`:
        it was written under an older encoding or layout (or by foreign
        code) and would be MISREAD, not merely rejected."""
        if marker not in self.names and any(n.startswith(_GEN_PREFIXES) for n in self.names):
            raise ValueError(
                f"store {self.root} has generation directories but no {marker} "
                f"marker: {rebuild}"
            )

    def check_floor(self, what: str, floor: int) -> None:
        """The overlay-floor check: an overlay at or below m* would overlay
        generations a compaction already materialized."""
        if floor <= self.m_star:
            raise ValueError(
                f"{what} floor {floor} is at or below the newest compacted "
                f"coverage {self.m_star}: that compaction already materialized "
                "the generations it would overlay. Write it above the "
                "compaction frontier (or recompute from facts)."
            )

    def kept(self, upto: int | None = None):
        """(live generation ids, overlay dirs) a read keeps: overlays above
        m*, both restricted to coverage <= `upto` when given. A snapshot
        below m* was retired by a compaction — the retention limit on time
        travel — and raises as such."""
        ids = self.live
        overlays = [(k, n) for k, n in self.overlays if k > self.m_star]
        if upto is not None:
            if upto < self.m_star:
                raise ValueError(
                    f"snapshot at batch {upto} was retired by a compaction "
                    f"covering {self.m_star}: time travel reaches back only to "
                    "the newest compacted coverage (the retention trade of "
                    "compacting). Recompute from facts for older snapshots."
                )
            ids = [g for g in ids if coverage(g) <= upto]
            overlays = [(k, n) for k, n in overlays if k <= upto]
        return ids, overlays


def list_store(spark: SparkSession, store_dir: str) -> StoreListing:
    """The one root listing of a store (an empty listing when the directory
    does not exist), via the Hadoop FileSystem API so the same code serves
    local disk, HDFS and object stores. Raises on a store with generation
    dirs but no protocol marker."""
    HPath, fs = _fs(spark, store_dir)
    names = []
    if fs.exists(HPath(store_dir)):
        names = [st.getPath().getName() for st in fs.listStatus(HPath(store_dir))]
    ls = StoreListing.parse(store_dir, names)
    ls.require(PROTOCOL_MARKER, _PROTOCOL_REBUILD)
    return ls


def _stamp(spark: SparkSession, ls: StoreListing, *markers: str) -> None:
    """Create the protocol marker and `markers` (None skipped) where the
    listing lacks them — the first write of a new store."""
    HPath, fs = _fs(spark, ls.root)
    for m in (PROTOCOL_MARKER, *markers):
        if m and m not in ls.names:
            fs.create(HPath(f"{ls.root}/{m}"), True).close()


def stamp_protocol(spark: SparkSession, index_dir: str, force: bool = False) -> None:
    """Idempotently write the protocol-version marker file.

    A store that already holds generation dirs WITHOUT the marker is a
    pre-v2 (or foreign) store: stamping it would launder its
    old-encoding compacted dirs past the read check — the exact
    upgrade-path hole where a checkpointed stream resumes writing into
    an old store and the first batch's stamp makes later reads silently
    misinterpret batch_id=-m. So that case RAISES unless force=True,
    the operator's explicit I-verified-no-negative-generations
    override."""
    _stamp(spark, StoreListing.parse(index_dir, ()) if force else list_store(spark, index_dir))


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
# reproduce-a-training-run's-input question) each generation dir of a
# partials store gets a monotone WRITE-SEQUENCE marker at write time: an
# empty `_wseq.<k>` file inside the dir (underscore-prefixed, so parquet
# readers ignore it; a compaction writes it into the temp dir, so it moves
# in with the atomic rename). Only the partials store's write-time read
# (PartialsStore._kept, `asof_wseq`) reads it, so the row-index stores do
# not stamp their generations or tombstones. k is
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
    """The write-sequence of one generation dir (None if never recorded;
    treated as newer than any snapshot, the conservative reading)."""
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


def write_seqs(spark: SparkSession, ls: StoreListing) -> dict[str, int]:
    """dir-name -> write-sequence for every generation dir of the listing
    that has one."""
    HPath, fs = _fs(spark, ls.root)
    out = {}
    for name in ls.names:
        if not name.startswith(_GEN_PREFIXES):
            continue
        w = _dir_wseq(fs, HPath, f"{ls.root}/{name}")
        if w is not None:
            out[name] = w
    return out


def record_wseq(spark: SparkSession, ls: StoreListing, dir_name: str) -> int:
    """Stamp `dir_name` with the next write-sequence after the dirs of the
    operation's listing `ls` (called by writers immediately after the dir
    lands / renames in). Idempotent per dir: re-recording an
    already-stamped dir is a no-op."""
    HPath, fs = _fs(spark, ls.root)
    existing = _dir_wseq(fs, HPath, f"{ls.root}/{dir_name}")
    if existing is not None:
        return existing
    nxt = max(write_seqs(spark, ls).values(), default=0) + 1
    fs.create(HPath(f"{ls.root}/{dir_name}/{_WSEQ_PREFIX}{nxt}"), True).close()
    return nxt


def _coverage_col():
    """`coverage()` as a column expression over the hive `batch_id`
    partition column — exact for both namespaces (positive stream batch
    b covers b; compacted -(m+1) covers m)."""
    from pyspark.sql import functions as F

    b = F.col("batch_id")
    return F.when(b < 0, -b - 1).otherwise(b)


def commit_compaction(
    spark: SparkSession,
    ls: StoreListing,
    upto_batch_id: int,
    write: Callable[[str], None],
    min_sources: int = 2,
) -> int:
    """The one compaction commit of both store families. From the
    operation's listing: sweep the dead dirs (generations superseded by
    precedence, overlays at or below m*), then merge every live
    generation covering <= upto_batch_id and every overlay with floor in
    (m*, upto] into `batch_id=compacted_id(m)`, m the largest coverage or
    floor consumed: `write(tmp)` writes the store's kept rows at that
    coverage to a dot-prefixed temp dir, the checked rename moves it in,
    and the consumed dirs are deleted after. Returns the number of
    generations (additive + overlay) merged; 0 when fewer than
    `min_sources` would merge, or when only the compacted generation
    covers upto (nothing new arrived at this coverage)."""
    HPath, fs = _fs(spark, ls.root)
    dead = [f"batch_id={g}" for g in set(ls.raw) - set(ls.live)]
    dead += [n for k, n in ls.overlays if k <= ls.m_star]
    for name in dead:
        fs.delete(HPath(f"{ls.root}/{name}"), True)
    src, overlays = ls.kept()
    src = [g for g in src if coverage(g) <= upto_batch_id]
    overlays = [(k, n) for k, n in overlays if k <= upto_batch_id]
    if len(src) + len(overlays) < min_sources:
        return 0
    if all(g < 0 for g in src) and not overlays:
        return 0
    m = max([coverage(g) for g in src] + [k for k, _ in overlays])
    dest = f"batch_id={compacted_id(m)}"
    tmp = f"{ls.root}/.compact_tmp_{m}"
    fs.delete(HPath(tmp), True)
    write(tmp)
    if not fs.rename(HPath(tmp), HPath(f"{ls.root}/{dest}")):
        raise IOError(
            f"compaction of {ls.root}: rename {tmp} -> {dest} failed; "
            "aborting with sources intact (nothing was deleted)"
        )
    consumed = [f"batch_id={g}" for g in src] + [n for _, n in overlays]
    for name in consumed:
        if name != dest:
            fs.delete(HPath(f"{ls.root}/{name}"), True)
    return len(src) + len(overlays)


# ---------------------------------------------------------------------------
# Generic mergeable-partials store: the machinery behind every streaming
# sketch store (streaming/events.py declares ten: rollup, value histogram,
# term counts, OHLC, KMV, regression, bitmap, CMS, MinHash, novelty). Each
# is a mergeable summary (Agarwal et al., "Mergeable Summaries", PODS
# 2012): a `partial` over a slice of facts, a commutative and associative
# `merge` that keeps the partial schema, and a serve-time finisher that
# the domain module owns. A `PartialsStore` declares the first two once;
# its methods are the one writer, stream driver, reader selection,
# backfill (replacement semantics) and floor-aware compactor all ten use.
# ---------------------------------------------------------------------------


def run_foreach_batch(stream_df, batch_fn, checkpoint_dir: str):
    """Start `stream_df` through `batch_fn(batch_df, batch_id)` per
    micro-batch with Trigger.AvailableNow: drain what the source holds,
    then stop; the checkpoint makes the next start resume after it. The
    one foreachBatch start of the streaming package: every store's
    writer is replay-idempotent per batch_id, so foreachBatch's
    at-least-once delivery composes to effectively-once store state. An
    empty micro-batch is skipped here, once for every writer: it writes
    no generation."""

    def _nonempty(batch_df, batch_id: int) -> None:
        if not batch_df.isEmpty():
            batch_fn(batch_df, batch_id)

    return (
        stream_df.writeStream.foreachBatch(_nonempty)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


@dataclass(frozen=True)
class PartialsStore:
    """One mergeable-partials store declaration.

      * `keys` — the partial grain; `values` — the partial's value
        columns;
      * `partial(df, batch_id)` — the partial rows of a slice of facts,
        at (keys, values). Only a store whose partial records its batch
        (novelty's first-seen batch) reads `batch_id`; a backfill passes
        its floor;
      * `merge` — one Spark SQL aggregate per value column (F.expr text),
        applied per key. Default: an integer sum per value column. It
        must be commutative and associative and keep the partial schema,
        because compaction must be a no-op under the reader's own
        re-merge: merge(merge(a,b),c) = merge(a,b,c);
      * `floor_keys` — the REPLACEMENT GRAIN of a backfill (see `_kept`);
        default `keys`."""

    keys: tuple[str, ...]
    values: tuple[str, ...]
    partial: Callable[[DataFrame, int], DataFrame]
    merge: tuple[str, ...] | None = None
    floor_keys: tuple[str, ...] | None = None

    def _merge_exprs(self):
        from pyspark.sql import functions as F

        if self.merge is None:
            return [F.sum(c).alias(c) for c in self.values]
        return [F.expr(e).alias(c) for c, e in zip(self.values, self.merge)]

    def batch_fn(self, store_dir: str):
        """The per-micro-batch writer: the batch's partial lands under
        `batch_id=N` and is stamped with the next write-sequence. It
        touches no other generation, so a foreachBatch replay overwrites
        its own dir and the store stays byte-identical."""

        def _each_batch(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            ls = list_store(spark, store_dir)
            _stamp(spark, ls)
            self.partial(batch_df, batch_id).write.mode("overwrite").parquet(
                f"{store_dir}/batch_id={batch_id}"
            )
            record_wseq(spark, ls, f"batch_id={batch_id}")

        return _each_batch

    def stream(self, stream_df, store_dir: str, checkpoint_dir: str):
        """Maintain the store from `stream_df` as a Structured Streaming
        query. No watermark: a late fact is one more partial row."""
        return run_foreach_batch(stream_df, self.batch_fn(store_dir), checkpoint_dir)

    def _kept(
        self,
        spark: SparkSession,
        ls: StoreListing,
        upto: int | None = None,
        asof_wseq: int | None = None,
    ):
        """The partial rows the serve semantics keeps — ONE selection shared
        by readers and the compactor so they can never disagree:

          * additive: live generations (compaction precedence), optionally
            restricted to coverage <= upto;
          * backfill: dirs with floor > m* (floors at or below it were
            materialized by a compaction and the dirs are dead, swept
            later), optionally floor <= upto;
          * per backfilled FLOOR GROUP: rows of the NEWEST applicable
            backfill, plus additive rows with coverage strictly above that
            floor (late additive data on top of the correction);
            non-backfilled groups keep all additive rows.

        `floor_keys` is the REPLACEMENT GRAIN — the key at which a backfill
        supersedes additive history. It defaults to `keys`, which is
        right when corrections stay within their bucket (the rollup: a
        re-measured hour is still that hour). When corrections MOVE rows
        between buckets — a value-keyed histogram, where fixing a value
        changes its cell — the floor grain must be the stable part of the
        key (e.g. just event_type) and the backfill must carry that group's
        COMPLETE corrected partials, else stale cells the correction
        vacated would survive.

        `asof_wseq` is WRITE-TIME travel (mutually exclusive with `upto`):
        restrict the listing to dirs recorded at write-sequence
        <= asof_wseq, then run the normal precedence/backfill selection on
        that SUBSET — exactly the resolution a reader performed at that
        instant. A compacted generation recorded AFTER asof_wseq means dirs
        the historical reader saw have since been deleted, so the snapshot
        is unreconstructable and this raises (the write-time analogue of
        the coverage-retention error; conservative — a crashed-
        compactor's surviving sources count as retired too)."""
        from pyspark.sql import functions as F

        floor_cols = list(self.floor_keys or self.keys)
        if asof_wseq is not None:
            if upto is not None:
                raise ValueError("pass either upto (coverage) or asof_wseq (write-time), not both")
            seqs = write_seqs(spark, ls)
            recorded = [n for n in ls.names if seqs.get(n, float("inf")) <= asof_wseq]
            late_compactions = [g for g in ls.raw if g < 0 and f"batch_id={g}" not in recorded]
            if late_compactions:
                raise ValueError(
                    f"write-time snapshot at wseq {asof_wseq} was retired: a "
                    f"compaction (generation {late_compactions}) recorded after "
                    "it deleted directories that snapshot's reader saw. "
                    "Write-time travel reaches back only to the newest "
                    "compaction's write."
                )
            ls = StoreListing.parse(ls.root, recorded)
        ids, overlays = ls.kept(upto)
        cols = [*self.keys, *self.values]
        adds = None
        if ids:
            adds = read_generation_dirs(spark, ls.dirs(ids), ls.root).select(
                *cols, _coverage_col().alias("_cov")
            )
        if not overlays:
            if adds is None:
                raise ValueError(f"partials store {ls.root} has no live generations")
            return adds.drop("_cov")
        backs = read_generation_dirs(spark, [f"{ls.root}/{n}" for _, n in overlays], ls.root)
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

    def _merged(self, spark: SparkSession, ls: StoreListing, **kept):
        return self._kept(spark, ls, **kept).groupBy(*self.keys).agg(*self._merge_exprs())

    def merged(self, spark: SparkSession, store_dir: str, **kept):
        """The kept partial rows merged to one row per key — the start of
        every serve. `kept` passes `upto` (coverage time travel) or
        `asof_wseq` (write-time travel) to the selection."""
        return self._merged(spark, list_store(spark, store_dir), **kept)

    def backfill(
        self,
        spark: SparkSession,
        store_dir: str,
        corrected: DataFrame,
        floor_batch_id: int,
        overwrite: bool = False,
    ) -> None:
        """Write a backfill generation `backfill_floor=K` (replacement
        semantics): the partial of the `corrected` facts, which must be
        the COMPLETE corrected facts of every floor group they touch. For
        those groups it supersedes every additive generation covering
        <= floor_batch_id; later additive batches still merge on top, so
        the stream never pauses. A compacted generation -(m+1) in turn
        supersedes backfill dirs with floor <= m (they were materialized
        into it, or were already dead).

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
        ls = list_store(spark, store_dir)
        ls.check_floor("backfill", floor_batch_id)
        name = f"backfill_floor={floor_batch_id}"
        if not overwrite and name in ls.names:
            raise ValueError(
                f"backfill floor {floor_batch_id} is already occupied: overwriting would "
                "revert the earlier correction's buckets. Merge the corrections "
                "into one backfill, use a fresher committed floor, or pass "
                "overwrite=True to retry the same logical backfill."
            )
        _stamp(spark, ls)
        self.partial(corrected, floor_batch_id).write.mode("overwrite").parquet(
            f"{store_dir}/{name}"
        )
        record_wseq(spark, ls, name)

    def compact(self, spark: SparkSession, store_dir: str, upto_batch_id: int) -> int:
        """Floor-aware compaction (commit_compaction): the compacted
        generation holds the key-grain RESOLVED partials at coverage
        upto_batch_id, computed by the same selection and merge the
        readers start from, in one file. Returns the number of
        generations merged."""
        ls = list_store(spark, store_dir)

        def _write(tmp: str) -> None:
            self._merged(spark, ls, upto=upto_batch_id).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            # stamped in the temp dir, so the marker moves in with the rename
            record_wseq(spark, ls, tmp.rsplit("/", 1)[1])

        return commit_compaction(spark, ls, upto_batch_id, _write)


# ---------------------------------------------------------------------------
# Row-index stores: the LSH band index, the FTS index and the IVF index.
# Each generation holds rows keyed by one column (doc_id, vec_id), laid
# out under one hive partition column or none. Deletion is the governance
# operation — remove specific keys (a revoked document, a
# right-to-be-forgotten user's vectors) from an append-only index without
# rewriting it in place: a tombstone generation `tombstone_floor=K` holds
# the KEYS to delete and declares that matching rows in generations
# covering <= K are dead; a key re-ingested in a LATER batch is a fresh
# insert and survives. Readers resolve precedence (a compacted generation
# retires tombstones at or below its coverage — their deletions were
# materialized) and compaction sweeps the dead dirs.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class IndexStore:
    """One row-index store declaration.

      * `key` — the column a tombstone names;
      * `partition_by` — the hive partition column every generation is
        written under (None: unpartitioned);
      * `compact_files` — how a compacted generation is laid out: hash-
        repartitioned on `partition_by` into that many tasks (one file
        per partition value), or coalesced to that many files when
        unpartitioned; None writes the kept rows as they come;
      * `layout` — a versioned layout-marker name stamped on a new store
        and required of any store holding generations, so a store
        written under an earlier layout raises instead of being misread;
      * `check(spark, listing)` — an invariant asserted before every
        compaction, which would otherwise fold a violation out of sight."""

    key: str
    partition_by: str | None = None
    compact_files: int | None = None
    layout: str | None = None
    check: Callable[[SparkSession, StoreListing], None] | None = None

    def listing(self, spark: SparkSession, index_dir: str) -> StoreListing:
        ls = list_store(spark, index_dir)
        if self.layout is not None:
            ls.require(
                self.layout,
                "it was written under an earlier layout of this store (or with "
                "other layout parameters) and would be misread. Rebuild it from "
                "its source rows.",
            )
        return ls

    def _writer(self, rows: DataFrame):
        w = rows.write.mode("overwrite")
        return w.partitionBy(self.partition_by) if self.partition_by else w

    def write(self, spark: SparkSession, ls: StoreListing, rows: DataFrame, batch_id: int) -> None:
        """Land one micro-batch's rows under `batch_id=N` (one overwrite,
        so a replay is idempotent), stamping a new store's markers."""
        _stamp(spark, ls, self.layout)
        self._writer(rows).parquet(f"{ls.root}/batch_id={batch_id}")

    def rows(self, spark: SparkSession, ls: StoreListing, upto: int | None = None) -> DataFrame:
        """The kept rows of the listing — the live generations' rows minus
        tombstoned ones: a row from a generation with coverage c is dead
        iff some applicable tombstone for its key has floor >= c. All data
        columns plus the hive partition columns (batch_id, and the
        store's `partition_by`). ONE selection shared by search paths,
        probe paths and the compactor."""
        from functools import reduce

        from pyspark.sql import functions as F

        ids, tombs = ls.kept(upto)
        if not ids:
            raise ValueError(f"index store {ls.root} has no live generations")
        rows = read_generation_dirs(spark, ls.dirs(ids), ls.root)
        if not tombs:
            return rows
        # per-dir reads with the floor attached as a literal (serial-suffixed
        # dir names are not hive-parsable, by design — see StoreListing);
        # the key renamed so the anti-join condition names each side
        # unambiguously
        dead = reduce(
            lambda a, b: a.unionByName(b),
            [
                read_generation_dirs(spark, [f"{ls.root}/{name}"]).select(
                    F.col(self.key).alias("_t"), F.lit(k).alias("_tf")
                )
                for k, name in tombs
            ],
        )
        hit = (F.col(self.key) == F.col("_t")) & (F.col("_tf") >= _coverage_col())
        return rows.join(F.broadcast(dead), hit, "left_anti")

    def kept(self, spark: SparkSession, index_dir: str, upto: int | None = None) -> DataFrame:
        return self.rows(spark, self.listing(spark, index_dir), upto)

    def delete(
        self, spark: SparkSession, index_dir: str, keys: DataFrame, floor_batch_id: int
    ) -> None:
        """Write a tombstone generation holding the distinct `key` values
        of `keys`: every read immediately excludes their rows from
        generations covering <= floor_batch_id, and the next compaction
        materializes the removal. Each call lands in a FRESH dir
        (serial-suffixed when the floor is reused), so deletions at one
        floor accumulate by union. Floor contract: above the newest
        compacted coverage, covering only committed batches."""
        ls = self.listing(spark, index_dir)
        ls.check_floor("tombstone", floor_batch_id)
        name, serial = f"tombstone_floor={floor_batch_id}", 2
        while name in ls.names:
            name, serial = f"tombstone_floor={floor_batch_id}_{serial}", serial + 1
        _stamp(spark, ls, self.layout)
        keys.select(self.key).distinct().write.mode("overwrite").parquet(f"{index_dir}/{name}")

    def compact(self, spark: SparkSession, index_dir: str, upto_batch_id: int) -> int:
        """Tombstone-aware compaction (commit_compaction): the compacted
        generation holds the reader's own kept rows at coverage
        upto_batch_id — deletions with floor <= upto_batch_id physically
        leave the index — in the store's layout (`compact_files`). Only
        compact batches the stream's checkpoint has committed: a replay
        can only re-run the LAST uncommitted batch. Returns the number of
        generations (additive + tombstone) merged."""
        ls = self.listing(spark, index_dir)
        if self.check is not None:
            self.check(spark, ls)

        def _write(tmp: str) -> None:
            rows = self.rows(spark, ls, upto_batch_id).drop("batch_id")
            if self.compact_files and self.partition_by:
                rows = rows.repartition(self.compact_files, self.partition_by)
            elif self.compact_files:
                rows = rows.coalesce(self.compact_files)
            self._writer(rows).parquet(tmp)

        return commit_compaction(spark, ls, upto_batch_id, _write)
