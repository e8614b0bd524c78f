"""Scratch directories and the replay-stream drain shared by the stream
runners and the registry gates.

Staging and checkpoint dirs die with the ``staged_stream`` or
``scratch_dirs`` ``with`` block. Every other scratch dir (archive,
table and index roots, output dirs) lives under one per-process root
that is removed when the process exits, because returned plans may read
their roots lazily after the query function has returned.

A killed process never runs its exit hook, so the root's name records
its owner, ``sg_{ns}_{pid}_{start}_…``: ``ns`` the owner's pid
namespace (the inode of ``/proc/self/ns/pid``), ``start`` the kernel's
start time of that pid (pids get reused). The first ``scratch_dir``
call of a process removes every such root in ``TMPDIR`` of its own pid
namespace whose owner is gone, is a zombie, or whose pid now belongs to
a process that started at another time. A root of another pid
namespace (a container or executor sharing the ``TMPDIR`` mount, whose
pids mean nothing here), a live owner's root and a root whose name
holds no owner record are never touched, and nothing is swept where
the namespace or start times cannot be read (no ``/proc``).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

_root: str | None = None
_OWNED_ROOT = re.compile(r"sg_(\d+)_(\d+)_(\d+)_[a-z0-9_]{8}")


def _remove_root(root: str, owner_pid: int) -> None:
    # a forked child inherits this hook; only the creator removes the root
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def _start_time(pid: int) -> str | None:
    """The kernel's start time of ``pid`` (clock ticks after boot); ""
    when no such process runs (gone, or a zombie); None when it cannot
    be read."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # the command name may hold spaces and parens: split after it
            fields = fh.read().rsplit(")", 1)[1].split()
    except FileNotFoundError:
        return ""
    except (OSError, IndexError):
        return None
    if len(fields) < 20:
        return None
    return "" if fields[0] in ("Z", "X") else fields[19]


def _pid_namespace() -> str | None:
    """The inode of this process's pid namespace, None when unreadable."""
    try:
        m = re.fullmatch(r"pid:\[(\d+)\]", os.readlink("/proc/self/ns/pid"))
    except OSError:
        return None
    return m[1] if m else None


def _sweep_dead_roots(tmp: str, ns: str) -> None:
    """Remove the ``sg_`` roots in ``tmp`` of pid namespace ``ns`` whose
    owner process is gone."""
    for name in os.listdir(tmp):
        m = _OWNED_ROOT.fullmatch(name)
        if m is None or m[1] != ns:
            continue
        start = _start_time(int(m[2]))
        if start is not None and start != m[3]:
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh directory under this process's scratch root, which is
    created on first use (after sweeping dead processes' roots) and
    removed at process exit."""
    global _root
    if _root is None:
        pid, ns = os.getpid(), _pid_namespace()
        start = _start_time(pid)
        owner = f"{ns}_{pid}_{start}_" if ns and start else ""
        if owner:
            _sweep_dead_roots(tempfile.gettempdir(), ns)
        _root = tempfile.mkdtemp(prefix=f"sg_{owner}")
        atexit.register(_remove_root, _root, pid)
    return tempfile.mkdtemp(prefix=prefix, dir=_root)


@contextmanager
def scratch_dirs(*prefixes: str) -> Iterator[list[str]]:
    """Fresh scratch dirs, one per prefix, removed on exit, also when
    the body raises — for dirs nothing reads after the ``with``."""
    dirs = [scratch_dir(p) for p in prefixes]
    try:
        yield dirs
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


@contextmanager
def staged_stream(
    df: DataFrame, batches: int
) -> Iterator[tuple[DataFrame, str]]:
    """Write ``df`` as ``batches`` parquet files and yield ``(stream,
    checkpoint_dir)``: a file stream that replays them one file per
    micro-batch, and an empty checkpoint dir. Both dirs are removed on
    exit, also when the body raises."""
    with scratch_dirs("sg_stage_", "sg_ckpt_") as (staged, checkpoint):
        df.repartition(batches).write.mode("overwrite").parquet(staged)
        stream = (
            df.sparkSession.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged)
        )
        yield stream, checkpoint


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
