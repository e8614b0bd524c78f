"""Scratch directories and the replay-stream drain shared by the stream
runners and the registry gates.

Staging and checkpoint dirs die with the ``staged_stream`` ``with``
block. Every other scratch dir (archive, table and index roots, output
dirs) lives under one per-process root that is removed when the process
exits, because returned plans may read their roots lazily after the
query function has returned.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

_root: str | None = None


def _remove_root(root: str, owner_pid: int) -> None:
    # a forked child inherits this hook; only the creator removes the root
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh directory under this process's scratch root, which is
    created on first use and removed at process exit."""
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix="sg_")
        atexit.register(_remove_root, _root, os.getpid())
    return tempfile.mkdtemp(prefix=prefix, dir=_root)


@contextmanager
def staged_stream(
    df: DataFrame, batches: int
) -> Iterator[tuple[DataFrame, str]]:
    """Write ``df`` as ``batches`` parquet files and yield ``(stream,
    checkpoint_dir)``: a file stream that replays them one file per
    micro-batch, and an empty checkpoint dir. Both dirs are removed on
    exit, also when the body raises."""
    staged = scratch_dir("sg_stage_")
    checkpoint = scratch_dir("sg_ckpt_")
    try:
        df.repartition(batches).write.mode("overwrite").parquet(staged)
        stream = (
            df.sparkSession.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged)
        )
        yield stream, checkpoint
    finally:
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)


def drain(
    updates: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> None:
    """Run ``apply_batch`` on every micro-batch of ``updates`` that is
    available now, and block until the stream stops."""
    (
        updates.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
