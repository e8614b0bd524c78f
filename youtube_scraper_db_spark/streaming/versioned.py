"""Versioned-table commit protocol shared by the streaming maintenance
loops (cdc.py / kmv.py / skyline.py / cc.py / sample.py): each
micro-batch folds the stored state with the batch and writes the result
to ``{table_root}/v{n+1}``.

The resume contract (round-11 ADVICE): a crash mid parquet write leaves
a PARTIAL ``v{n}`` directory; adopting it as the resume point would fold
future batches into torn state. Parquet commits through Hadoop's
FileOutputCommitter, which writes the ``_SUCCESS`` marker only after
every task file is moved into place — so the marker's presence IS the
commit record. ``latest_committed_version`` therefore skips marker-less
directories; the next fold targets ``committed + 1``, which is exactly
the partial directory, and ``mode("overwrite")`` replaces it — the torn
write self-heals on the next batch instead of poisoning the state.
"""

from __future__ import annotations

import os


def latest_committed_version(table_root: str) -> int:
    """Highest ``v{n}`` under ``table_root`` whose parquet write
    COMMITTED (``_SUCCESS`` marker present); 0 if none. Partial
    directories from a crash mid-write are ignored — the caller's next
    ``mode("overwrite")`` write to ``v{committed+1}`` replaces them."""
    committed = [
        int(d[1:])
        for d in os.listdir(table_root)
        if d.startswith("v")
        and d[1:].isdigit()
        and os.path.exists(os.path.join(table_root, d, "_SUCCESS"))
    ]
    return max(committed, default=0)
