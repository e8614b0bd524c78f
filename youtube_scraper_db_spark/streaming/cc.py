"""Streaming connected components — edge micro-batches folded into a
versioned label table via ``foreachBatch`` + the batch fold operator
(llm/cluster.py ``fold_components``): the graph member of the streaming
maintenance family (streaming sketches fold registers/counters/bits,
streaming Misra-Gries folds summaries, the CDC loop folds keyed rows;
this folds CONNECTIVITY).

Per micro-batch: read the current label table version, contract the
batch's edges through it, run connected components on the batch-bounded
contracted graph, map old labels through the merge map, write the result
as a NEW versioned directory, advance the pointer — the
``streaming/cdc.py`` versioned-rewrite scheme, so each commit is atomic
at the directory level and readers of v(n) are never invalidated.

Exactness: each fold equals a full recompute on (edges-so-far)
(``fold_components``' min-label contraction argument, gated by
``incremental_cc_equiv``), so by induction the drained table equals the
one-shot batch CC on the full edge set WHATEVER the micro-batch layout —
the streaming/batch agreement contract (``stream_cc_labels`` gates it).
Replaying a batch after a crash is idempotent: folding edges whose
endpoints are already co-labeled contracts to self-loops and the merge
map is the identity.

Scale note: each micro-batch rewrites the label table — O(labels) I/O
per batch, the plain-parquet floor (production amortizes with
partition-pruned rewrites or a log-structured format). The COMPUTE per
batch is what matters at 100 TB: two keyed joins over the batch plus CC
on the contracted graph, whose size is bounded by the batch — never a
re-read of the historical edge set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..llm.cluster import fold_components
from .drain import drain
from .versioned import latest_committed_version


def run_cc_stream(
    edge_updates: DataFrame,
    src: str,
    dst: str,
    table_root: str,
    checkpoint: str,
) -> DataFrame:
    """Drain ``edge_updates`` (a streaming DataFrame of edges) into a
    versioned ``(node, component)`` label table, folding each micro-batch
    by contraction. Returns the final label table as a batch DataFrame.

    The v0 state is the EMPTY label table (held as an in-session empty
    frame, not a parquet dir — an empty write materializes no readable
    footer); folding a batch into empty labels degenerates to plain
    connected components on that batch, so no special first-batch path
    exists.

    Restart contract: the version pointer RESUMES from the highest
    COMMITTED ``v{n}`` directory on disk (``_SUCCESS``-verified, see
    versioned.py — a partial directory from a crash mid-write is skipped
    and overwritten by the next fold), so a rerun against the same checkpoint
    (which skips already-committed batches) folds new batches into the
    labels already accumulated — not into empty v0. A batch replayed
    after a crash between the table write and the checkpoint commit
    re-folds edges whose endpoints are already co-labeled: the
    contracted graph is all self-loops, the merge map is the identity,
    and the new version equals the old one — idempotent."""
    spark = edge_updates.sparkSession
    os.makedirs(table_root, exist_ok=True)
    current = {"v": latest_committed_version(table_root)}

    def _labels() -> DataFrame:
        if current["v"] == 0:
            return spark.createDataFrame([], "node long, component long")
        return spark.read.parquet(
            os.path.join(table_root, f"v{current['v']}")
        )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        folded = fold_components(_labels(), batch_df, src, dst)
        nxt = current["v"] + 1
        folded.write.mode("overwrite").parquet(
            os.path.join(table_root, f"v{nxt}")
        )
        current["v"] = nxt

    drain(edge_updates, apply_batch, checkpoint)
    return _labels()
