"""Log-structured store COMPACTION — the lifecycle step that keeps the
streaming index stores (IVF inverted lists, LSH sigs/bands, the NSW
cell-partitioned vector log) bounded: ingest appends ``b_*`` insert
logs, deletion appends ``d_*`` tombstone logs (streaming/ann.py,
streaming/dedup.py), and without compaction both grow without bound —
every read pays one anti-join per tombstone log and the file listing
grows with stream lifetime. Compaction rewrites the LIVE view (inserts
minus tombstones) as a single committed BASELINE and garbage-collects
the logs it consumed.

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
(streaming/ann.py, streaming/dedup.py) means a tombstone never needs to
outlive the rows it suppressed.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from .versioned import is_committed, versions

_BASE_PREFIX = "base_v"
#: leading underscore: Hadoop/Spark input listings skip _-prefixed
#: files (the _SUCCESS convention), so the manifest never reads as data
_MANIFEST = "_compaction_manifest.json"


def _baseline_dirs(root: str) -> list[tuple[int, str]]:
    return versions(os.path.join(root, _BASE_PREFIX))


def active_baseline(root: str) -> tuple[str | None, set[str]]:
    """(path, consumed-log-names) of the newest ACTIVE baseline —
    committed and carrying its manifest — or (None, set())."""
    for _, path in reversed(_baseline_dirs(root)):
        if is_committed(path) and os.path.exists(os.path.join(path, _MANIFEST)):
            with open(os.path.join(path, _MANIFEST)) as f:
                return path, set(json.load(f)["consumed"])
    return None, set()


def live_log_dirs(
    root: str, prefix: str, exclude: str | None = None
) -> list[str]:
    """The ``{prefix}*`` log directories NOT consumed by the active
    baseline — what a reader folds on top of it. ``exclude`` skips the
    in-flight batch's own directory BY NAME (the foreachBatch replay
    device; callers get the name from ``log_dir_name``)."""
    if not os.path.isdir(root):
        return []
    _, consumed = active_baseline(root)
    return sorted(
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith(prefix) and d != exclude and d not in consumed
    )


def log_dir_name(root: str, prefix: str, batch_id: int) -> str:
    """Generation-qualified log directory name for a micro-batch write:
    logs written after a compaction carry the active baseline's version
    (``b_g2_0``), so a fresh checkpoint's restarting batch ids can
    never collide with names an earlier generation's manifest already
    consumed — a collision would make the new batch invisible to every
    reader. Generation 0 keeps the legacy bare names (``b_0``) so
    pre-compaction stores are unchanged."""
    base, _ = active_baseline(root)
    gen = (
        0
        if base is None
        else int(os.path.basename(base)[len(_BASE_PREFIX):])
    )
    return f"{prefix}g{gen}_{batch_id}" if gen else f"{prefix}{batch_id}"


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
    _, already = active_baseline(root)
    consumed = sorted(
        d
        for d in os.listdir(root)
        if (d.startswith("b_") or d.startswith("d_"))
        and d not in already
    )
    writer = live_df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target)
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
    active, consumed = active_baseline(root)
    if active is None:
        return
    for d in consumed:
        p = os.path.join(root, d)
        if os.path.isdir(p):
            shutil.rmtree(p)
    for _, path in _baseline_dirs(root):
        if path != active:
            shutil.rmtree(path)
