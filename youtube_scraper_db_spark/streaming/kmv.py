"""Streaming KMV — bottom-k distinct sketches maintained over a stream
via ``foreachBatch`` + the batch merge operator (operators/kmv.py
``kmv_merge``): the KMV member of the streaming maintenance family
(streaming HLL/CMS/Bloom/histogram fold registers/counters/bits/bins,
streaming Misra-Gries folds summaries, streaming CC folds connectivity;
this folds the k-smallest-distinct-hash SAMPLE).

Why not a streaming aggregate like the HLL/CMS twins: bottom-k is an
order statistic, not a built-in associative SQL aggregate, so the fold
runs on the versioned-table loop (versioned.py ``fold_stream``) — each
micro-batch sketches ITS OWN rows with the batch kernel (O(k) state per
partition), merges into the reloaded sketch (a ≤2k-row distinct +
ordered limit), and commits a new version directory. State is O(k) rows
forever, on disk too (two kept versions), versus O(distinct keys) for
exact streaming distinct counting.

Exactness: bottom-k mergeability is exact (the ``kmv_union_merge``
identity), so by induction the drained sketch equals the one-shot batch
sketch of the full input WHATEVER the micro-batch layout — which is why
the ``stream_kmv_distinct_users`` gate shares the batch gate's oracle
verbatim. Replaying a batch after a crash re-merges a subset of hashes
the sketch already ranks — idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.kmv import kmv_merge, kmv_sketch
from .versioned import fold_stream


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

    The initial state is the EMPTY sketch; merging a batch into it
    degenerates to the batch's own sketch, so there is no first-batch
    special case. Commit, resume and GC follow versioned.py. A
    crash-replayed batch merges already-ranked hashes — idempotent."""
    empty = updates.sparkSession.createDataFrame([], "h long")
    return fold_stream(
        updates, table_root, checkpoint, empty,
        lambda sketch, batch: kmv_merge(sketch, kmv_sketch(batch, key, k), k),
    )
