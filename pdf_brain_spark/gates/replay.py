"""Stream-replay harness for the streaming gates: a static table is staged
as two arrival files and replayed through the file source as two
micro-batches, so each gate exercises a real AvailableNow run over data
the DuckDB oracle reads in one shot."""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession


@contextmanager
def replayed_stream(
    spark: SparkSession, df: DataFrame, first: Column
) -> Iterator[tuple[DataFrame, str]]:
    """Yield (stream, root): `stream` replays `df` as two micro-batches,
    the rows matching `first` (batch 0), then the rest (batch 1); `root`
    is a scratch dir for the caller's stores and checkpoints, removed on
    exit. The file source orders files by modification time (ms
    granularity, ties in no fixed order), so the first file's mtime is
    moved back 10 s: batch 0 is always the `first` half. Results must be
    materialized (localCheckpoint) inside the `with` block."""
    root = tempfile.mkdtemp(prefix="sgraft_replay_")
    stage = f"{root}/stage"
    try:
        df.filter(first).coalesce(1).write.mode("append").parquet(stage)
        first_files = [f"{stage}/{f}" for f in os.listdir(stage) if f.endswith(".parquet")]
        df.filter(~first).coalesce(1).write.mode("append").parquet(stage)
        for f in first_files:
            st = os.stat(f)
            os.utime(f, (st.st_atime, st.st_mtime - 10))
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        yield stream, root
    finally:
        shutil.rmtree(root, ignore_errors=True)
