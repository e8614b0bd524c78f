"""Streaming connected components — edge micro-batches folded into a
versioned label table via ``foreachBatch`` + the batch fold operator
(llm/cluster.py ``fold_components``): the graph member of the streaming
maintenance family (streaming sketches fold registers/counters/bits,
streaming Misra-Gries folds summaries, the CDC loop folds keyed rows;
this folds CONNECTIVITY).

Per micro-batch: read the current label table version, contract the
batch's edges through it, run connected components on the batch-bounded
contracted graph, map old labels through the merge map, and commit the
result as the next version (versioned.py ``fold_stream``).

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

from pyspark.sql import DataFrame

from ..llm.cluster import fold_components
from .versioned import fold_stream


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

    The initial state is the EMPTY label table; folding a batch into
    empty labels degenerates to plain connected components on that
    batch, so no special first-batch path exists. Commit, resume and GC
    follow versioned.py. A batch replayed after a crash between the
    table write and the checkpoint commit re-folds edges whose endpoints
    are already co-labeled: the contracted graph is all self-loops, the
    merge map is the identity, and the new version equals the old one —
    idempotent."""
    empty = edge_updates.sparkSession.createDataFrame(
        [], "node long, component long"
    )
    return fold_stream(
        edge_updates, table_root, checkpoint, empty,
        lambda labels, batch: fold_components(labels, batch, src, dst),
    )
