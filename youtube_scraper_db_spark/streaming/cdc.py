"""CDC apply loop — a stream of keyed updates folded into a stored
table via ``foreachBatch`` + the batch merge layer (operators/merge.py):
the Delta-free ``MERGE INTO`` stream, i.e. how a scrape/update feed
becomes a continuously-maintained table on plain parquet.

Per micro-batch: read the current table version, ``merge_upsert`` the
batch (new rows win on key collision), write the result as a NEW
versioned directory, advance the pointer. Versioned rewrite — the same
scheme as ``Archive`` — keeps each commit atomic at the directory level
(readers of v(n) are never invalidated by the v(n+1) write) and makes
batch replay after a crash idempotent for batches whose keys are
disjoint, which availableNow file-ordering guarantees for a
one-row-per-key feed.

Scale note: each micro-batch rewrites the table — correct and simple,
O(table) I/O per batch. That is the plain-parquet floor; production
systems amortize it with partition-pruned rewrites (only partitions a
batch touches — see operators/partitioning.py) or a log-structured
format. The loop here isolates the STREAMING contract: the final table
must equal the one-shot batch merge, whatever the micro-batch layout.

Resume contract: a rerun against the same checkpoint and ``table_root``
folds its new batches into the highest COMMITTED ``v{n}`` (versioned.py),
not into ``base`` — the checkpoint skips batches already applied, so
re-seeding from ``base`` would lose them. ``base`` is written as ``v0``
only when nothing is committed yet.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..operators.merge import merge_upsert
from .drain import drain
from .versioned import latest_committed_version


def run_upsert_stream(
    updates: DataFrame,
    base: DataFrame,
    keys: Sequence[str],
    table_root: str,
    checkpoint: str,
) -> DataFrame:
    """Drain ``updates`` (a streaming DataFrame) into a versioned table
    seeded with ``base``, applying ``merge_upsert`` per micro-batch.
    Returns the final table as a batch DataFrame. Resumes from the
    highest committed version (see the module docstring)."""
    spark = updates.sparkSession
    os.makedirs(table_root, exist_ok=True)
    current = {"v": latest_committed_version(table_root)}
    if current["v"] == 0:
        base.write.mode("overwrite").parquet(os.path.join(table_root, "v0"))

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        cur = spark.read.parquet(os.path.join(table_root, f"v{current['v']}"))
        merged = merge_upsert(cur, batch_df, keys)
        nxt = current["v"] + 1
        merged.write.mode("overwrite").parquet(
            os.path.join(table_root, f"v{nxt}")
        )
        current["v"] = nxt

    drain(updates, apply_batch, checkpoint)
    return spark.read.parquet(os.path.join(table_root, f"v{current['v']}"))
