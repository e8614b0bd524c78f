"""Versioned-directory commit protocol — the one owner of version
naming, the commit check and garbage collection. The five stream folds
(cdc.py, kmv.py, cc.py, skyline.py, sample.py) run on ``fold_stream``;
``Archive`` (archive.py) garbage-collects through ``drop_below``; the
index-store baselines (store.py) are listed and checked through
``versions`` and ``is_committed``.

Naming: a versioned table is a family of sibling directories
``{prefix}{n}``, each a whole-table rewrite (``{table_root}/v{n}`` for
the stream folds, ``<table>.parquet.v{n}`` for ``Archive``,
``base_v{n}`` for store.py). A version is never updated in place, so a
reader of v(n) is never invalidated by the v(n+1) write.

Marker: parquet commits through Hadoop's FileOutputCommitter, which
writes the ``_SUCCESS`` marker only after every task file is moved into
place, so the marker's presence IS the commit record (``is_committed``).
``Archive`` keeps a pointer file on top, because its ``rollback``
repoints to an older version and its v0 directories may be written
without a marker.

Resume: ``fold_stream`` starts from the highest committed ``v{n}``, or
from the caller's in-memory ``initial`` state when nothing is committed
(an empty parquet write materializes no readable footer, so an empty
state is never written). A rerun against the same checkpoint, which
skips the batches already applied, therefore folds its new batches into
the accumulated state, not into ``initial``.

Healing: a crash mid-write leaves a marker-less ``v{n+1}``. Resume skips
it, the next fold targets exactly that directory, and
``mode("overwrite")`` replaces it, so torn state is never adopted.

GC keeps two versions: after ``v{n+1}`` commits, every version below
``v{n}`` is removed (``drop_below``), so state on disk is bounded by
two versions, however many batches arrive. Two, not one: the previous
version mirrors ``Archive``'s one-step history, and a DataFrame
returned by an earlier run (a lazy read of its last version) stays
readable through one more commit. GC runs only after the commit, so a
crash before the commit leaves both kept versions intact, and a crash
between commit and GC leaves one extra directory that the next
commit's GC removes.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame

from .drain import drain


def versions(prefix: str) -> list[tuple[int, str]]:
    """Every ``{prefix}{n}`` directory, committed or not, as ``(n,
    path)`` pairs in ascending ``n``; empty if the parent is missing."""
    parent, stem = os.path.split(prefix)
    parent = parent or os.curdir
    if not os.path.isdir(parent):
        return []
    return sorted(
        (int(d[len(stem):]), os.path.join(parent, d))
        for d in os.listdir(parent)
        if d.startswith(stem) and d[len(stem):].isdecimal()
    )


def is_committed(path: str) -> bool:
    """Whether the parquet write to ``path`` committed (its ``_SUCCESS``
    marker exists)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def latest_committed_version(table_root: str) -> int:
    """Highest committed ``v{n}`` under ``table_root``; 0 if none.
    Partial directories from a crash mid-write are ignored — the next
    ``mode("overwrite")`` write to ``v{committed+1}`` replaces them."""
    return max(
        (n for n, path in versions(os.path.join(table_root, "v"))
         if is_committed(path)),
        default=0,
    )


def drop_below(prefix: str, n: int) -> None:
    """Remove every ``{prefix}{k}`` directory with ``k < n``."""
    for k, path in versions(prefix):
        if k < n:
            shutil.rmtree(path, ignore_errors=True)


def fold_stream(
    updates: DataFrame,
    table_root: str,
    checkpoint: str,
    initial: DataFrame,
    fold: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """Drain ``updates`` into ``{table_root}/v{n}``: each micro-batch
    writes ``fold(state, batch)`` to the next version, then drops the
    versions below the previous one. ``state`` is ``initial`` until a
    version commits. Returns the final state as a batch DataFrame."""
    spark = updates.sparkSession
    prefix = os.path.join(table_root, "v")
    os.makedirs(table_root, exist_ok=True)
    version = latest_committed_version(table_root)

    def state() -> DataFrame:
        if version == 0:
            return initial
        return spark.read.parquet(f"{prefix}{version}")

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        nonlocal version
        folded = fold(state(), batch_df)
        folded.write.mode("overwrite").parquet(f"{prefix}{version + 1}")
        version += 1
        drop_below(prefix, version - 1)

    drain(updates, apply_batch, checkpoint)
    return state()
