"""Log-structured index stores — the one owner of the log protocol that
the streaming IVF inverted lists, the NSW cell-partitioned vector log
and the LSH sigs/bands/pairs tables share (streaming/ann.py,
streaming/dedup.py). The families pass their schema, key columns and
any read predicate; this module names, lists, reads and compacts the
logs.

Logs (``write_log``): each ingest micro-batch overwrites its OWN insert
log directory ``b_{batch_id}`` under the table root, each delete
micro-batch its own tombstone log ``d_{batch_id}``. Overwrite, not
append: foreachBatch is at-least-once, so a replayed batch rewrites the
same deterministic rows instead of duplicating them.

Generations: once a table has a compacted baseline (below), its log
names carry the baseline's version (``b_g2_0``), so a fresh
checkpoint's restarting batch ids can never collide with a name the
baseline's manifest already lists as consumed — such a batch would be
invisible to every reader. Tables never compacted keep the bare
``b_N``/``d_N`` names.

One checkpoint per log prefix per generation: batch ids name the logs,
so a second checkpoint draining into the same prefix restarts at batch
0 and rewrites the first one's logs. Incremental ingest resumes the same
checkpoint; a fresh one starts after a compaction.

Reads (``read_live``): a reader sees the active baseline plus the insert
logs it has not consumed. On replay, the in-flight batch's own log
directory is left out: it may already hold the crashed attempt's rows,
and a batch must never read (or pair with) itself. Tombstones apply as
a left-anti join on the family's key against the unconsumed tombstone
logs, with the tombstone side broadcast (it is the small side by
construction). Partitioned logs (NSW's ``fam=/bk=`` layout) are read
one directory at a time and unioned, because partition discovery
rejects several roots; unpartitioned logs are read in one scan. A store
with no rows reads as an empty frame of the family's schema. Contract:
ids are not re-ingested after deletion — a tombstone suppresses its key
across all insert logs.

Compaction (``commit_baseline``) keeps the stores bounded: without it
both log kinds grow without bound — every read pays one anti-join per
tombstone log and the file listing grows with stream lifetime.
Compaction rewrites the LIVE view (inserts minus tombstones) as a
single committed BASELINE and garbage-collects the logs it consumed.

Crash-safe commit protocol (versioned.py's naming and commit marker,
extended with a consumed-log manifest):

1. The live view is written to ``base_v{n+1}``, a versioned directory
   that counts as written once it carries the commit marker
   (versioned.py ``is_committed``).
2. A ``_compaction_manifest.json`` naming every log directory the
   snapshot CONSUMED is written into the committed baseline via
   ``os.replace`` (atomic on POSIX). A baseline is ACTIVE only when
   BOTH the marker and the manifest exist; readers resolve the newest
   active baseline and skip
   exactly its consumed logs — so a crash between commit and GC leaves
   a state where old logs still exist on disk but are already excluded
   from every read: no duplicates, no resurrection.
3. GC deletes the consumed logs and superseded baselines. Pure cleanup,
   idempotent, safe to re-run any time.

Deletes stay correct through compaction because readers apply
tombstones ONLY from non-consumed logs: the baseline already has the
consumed tombstones physically applied, and the no-id-reuse contract
means a tombstone never needs to outlive the rows it suppressed.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .versioned import is_committed, versions

_BASE_PREFIX = "base_v"
_INSERT, _TOMB = "b_", "d_"
#: leading underscore: Hadoop/Spark input listings skip _-prefixed
#: files (the _SUCCESS convention), so the manifest never reads as data
_MANIFEST = "_compaction_manifest.json"


def _baseline_dirs(root: str) -> list[tuple[int, str]]:
    return versions(os.path.join(root, _BASE_PREFIX))


def _active_baseline(root: str) -> tuple[str | None, set[str]]:
    """(path, consumed-log-names) of the newest ACTIVE baseline —
    committed and carrying its manifest — or (None, set())."""
    for _, path in reversed(_baseline_dirs(root)):
        if is_committed(path) and os.path.exists(os.path.join(path, _MANIFEST)):
            with open(os.path.join(path, _MANIFEST)) as f:
                return path, set(json.load(f)["consumed"])
    return None, set()


def log_dirs(root: str) -> list[str]:
    """Names of every insert and tombstone log directory under
    ``root``, consumed or not."""
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root) if d.startswith((_INSERT, _TOMB))
    )


def _log_dir_name(root: str, prefix: str, batch_id: int) -> str:
    base, _ = _active_baseline(root)
    gen = (
        0
        if base is None
        else int(os.path.basename(base)[len(_BASE_PREFIX):])
    )
    return f"{prefix}g{gen}_{batch_id}" if gen else f"{prefix}{batch_id}"


def _live_log_dirs(root: str, prefix: str, own: int | None) -> list[str]:
    """The ``{prefix}*`` logs the active baseline has not consumed,
    without batch ``own``'s directory."""
    _, skip = _active_baseline(root)
    if own is not None:
        skip.add(_log_dir_name(root, prefix, own))
    return [
        os.path.join(root, d)
        for d in log_dirs(root)
        if d.startswith(prefix) and d not in skip
    ]


def _write(df: DataFrame, path: str, partition_by: list[str] | None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_log(
    df: DataFrame,
    root: str,
    batch_id: int,
    tomb: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """Overwrite micro-batch ``batch_id``'s own insert log under
    ``root`` (its tombstone log if ``tomb``)."""
    name = _log_dir_name(root, _TOMB if tomb else _INSERT, batch_id)
    _write(df, os.path.join(root, name), partition_by)


def _read(spark, dirs: list[str], schema: str, where) -> DataFrame | None:
    if not dirs:
        return None
    partitioned = any("=" in e for d in dirs for e in os.listdir(d))
    groups = [[d] for d in dirs] if partitioned else [dirs]
    parts = [spark.read.schema(schema).parquet(*g) for g in groups]
    if where is not None:
        parts = [p.where(where) for p in parts]
    return reduce(DataFrame.unionByName, parts)


def _union(a: DataFrame | None, b: DataFrame | None) -> DataFrame | None:
    if a is None or b is None:
        return a if b is None else b
    return a.unionByName(b.select(*a.columns))


def read_live(
    spark,
    root: str,
    schema: str,
    key: tuple[str, ...],
    tomb_root: str | None = None,
    where=None,
    own_insert: int | None = None,
    own_tomb: int | None = None,
    extra: DataFrame | None = None,
    extra_tombs: DataFrame | None = None,
) -> DataFrame:
    """The table's LIVE rows: the active baseline plus its unconsumed
    insert logs (and ``extra``, the in-flight batch's rows), anti-joined
    on ``key`` against the unconsumed tombstone logs under ``tomb_root``
    (default ``root``) plus ``extra_tombs``. ``where`` filters every log
    scan (a partition predicate prunes directories); ``own_insert`` /
    ``own_tomb`` name the in-flight batch whose own insert / tombstone
    log is left out."""
    base, _ = _active_baseline(root)
    ins = ([base] if base else []) + _live_log_dirs(root, _INSERT, own_insert)
    rows = _union(_read(spark, ins, schema, where), extra)
    if rows is None:
        # limit(0) plans as an empty LocalRelation, so a join or union
        # against an empty store folds away instead of running jobs
        return spark.createDataFrame([], schema).limit(0)
    dels = _live_log_dirs(tomb_root or root, _TOMB, own_tomb)
    tombs = _union(_read(spark, dels, schema, where), extra_tombs)
    if tombs is None:
        return rows
    return rows.join(F.broadcast(tombs.select(*key)), list(key), "left_anti")


def commit_baseline(
    root: str, live_df, partition_by: list[str] | None = None
) -> str:
    """Write ``live_df`` as the next baseline, mark the current logs
    (and any older baseline) consumed, then GC them. Returns the new
    baseline path. Safe against a crash at any step: until the manifest
    lands the old state is authoritative; after it lands the old logs
    are dead to every reader and GC is pure cleanup."""
    os.makedirs(root, exist_ok=True)
    olds = _baseline_dirs(root)
    new_n = (olds[-1][0] + 1) if olds else 1
    target = os.path.join(root, f"{_BASE_PREFIX}{new_n}")
    # everything present NOW (before the write) is what the snapshot
    # consumes; logs appended concurrently would be silently lost, so
    # compaction is a quiesced maintenance step by contract (as it is
    # for every LSM store)
    _, already = _active_baseline(root)
    consumed = [d for d in log_dirs(root) if d not in already]
    _write(live_df, target, partition_by)
    # atomic manifest publish: tmp file + os.replace (the tmp name is
    # _-prefixed too, so a crash mid-publish never leaves a stray file
    # that Spark would list as data)
    fd, tmp = tempfile.mkstemp(prefix="_tmp_manifest_", dir=target)
    with os.fdopen(fd, "w") as f:
        json.dump({"consumed": consumed}, f)
    os.replace(tmp, os.path.join(target, _MANIFEST))
    gc_consumed(root)
    return target


def gc_consumed(root: str) -> None:
    """Delete every log the active baseline consumed and every
    superseded baseline. Idempotent."""
    active, consumed = _active_baseline(root)
    if active is None:
        return
    for d in consumed:
        p = os.path.join(root, d)
        if os.path.isdir(p):
            shutil.rmtree(p)
    for _, path in _baseline_dirs(root):
        if path != active:
            shutil.rmtree(path)
