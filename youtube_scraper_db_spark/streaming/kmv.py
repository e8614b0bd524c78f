"""Streaming KMV — bottom-k distinct sketches maintained over a stream
via ``foreachBatch`` + the batch merge operator (operators/kmv.py
``kmv_merge``): the KMV member of the streaming maintenance family
(streaming HLL/CMS/Bloom/histogram fold registers/counters/bits/bins,
streaming Misra-Gries folds summaries, streaming CC folds connectivity;
this folds the k-smallest-distinct-hash SAMPLE).

Why not a streaming aggregate like the HLL/CMS twins: bottom-k is an
order statistic, not a built-in associative SQL aggregate, so the fold
runs as the ``streaming/cc.py`` versioned-table loop — each micro-batch
sketches ITS OWN rows with the batch kernel (O(k) state per partition),
merges into the reloaded sketch (a ≤2k-row distinct + ordered limit),
and commits a new version directory. State is O(k) rows FOREVER versus
O(distinct keys) for exact streaming distinct counting.

Exactness: bottom-k mergeability is exact (the ``kmv_union_merge``
identity), so by induction the drained sketch equals the one-shot batch
sketch of the full input WHATEVER the micro-batch layout — which is why
the ``stream_kmv_distinct_users`` gate shares the batch gate's oracle
verbatim. Replaying a batch after a crash re-merges a subset of hashes
the sketch already ranks — idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.kmv import kmv_merge, kmv_sketch
from .drain import drain
from .versioned import latest_committed_version


def run_kmv_stream(
    updates: DataFrame,
    key: str,
    k: int,
    table_root: str,
    checkpoint: str,
) -> DataFrame:
    """Drain ``updates`` (a streaming DataFrame carrying ``key``) into a
    versioned bottom-k hash table, folding each micro-batch by
    ``kmv_merge``. Returns the final sketch as a batch DataFrame.

    v0 is the EMPTY sketch (in-session empty frame — an empty parquet
    write materializes no readable footer); merging a batch into it
    degenerates to the batch's own sketch, so no first-batch special
    case. The version pointer RESUMES from the highest COMMITTED
    ``v{n}`` on disk — committed means the parquet ``_SUCCESS`` marker
    exists (versioned.py); a partial directory from a crash mid-write is
    skipped and overwritten by the next fold. Restart folds new batches
    into accumulated state, not into v0; a crash-replayed batch merges
    already-ranked hashes — idempotent."""
    spark = updates.sparkSession
    os.makedirs(table_root, exist_ok=True)
    current = {"v": latest_committed_version(table_root)}

    def _sketch() -> DataFrame:
        if current["v"] == 0:
            return spark.createDataFrame([], "h long")
        return spark.read.parquet(
            os.path.join(table_root, f"v{current['v']}")
        )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        folded = kmv_merge(_sketch(), kmv_sketch(batch_df, key, k), k)
        nxt = current["v"] + 1
        folded.write.mode("overwrite").parquet(
            os.path.join(table_root, f"v{nxt}")
        )
        current["v"] = nxt

    drain(updates, apply_batch, checkpoint)
    return _sketch()
