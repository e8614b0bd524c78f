"""Streaming Pareto-frontier maintenance — the skyline folded per
micro-batch via ``foreachBatch`` + the batch operator
(operators/skyline.py), joining the streaming maintenance family
(sketches fold registers/counters/bits/samples, Misra-Gries folds
summaries, CC folds connectivity, the LSH store folds bands; this
folds DOMINANCE).

Exactness of the fold: frontier(A ∪ B) = frontier(frontier(A) ∪ B).
⊆ — a point of frontier(A∪B) lies in A or B; if in A it is undominated
in A, hence in frontier(A), so it is IN the fold's input and still
undominated there (the fold input is a subset of A∪B). ⊇ — a fold
survivor dominated by some q ∈ A∪B is impossible: if q ∈ frontier(A)∪B
it would have eliminated the survivor inside the fold; otherwise
q ∈ A∖frontier(A) is itself dominated by some q′ ∈ frontier(A), and
dominance is transitive, so q′ eliminates the survivor — contradiction.
So the stored frontier is all the state a fold ever needs: each batch
costs pareto_frontier(frontier ∪ batch) — frontier-plus-batch-bounded,
never a re-read of history.

Replay idempotency (round-11 ADVICE): dominance requires strictness, so
an exact duplicate of a stored frontier row would SURVIVE beside it —
a crash-replayed batch would grow the frontier with duplicates. The
fold therefore runs ``distinct()`` on its input first: replaying any
batch re-adds rows the frontier already holds, the distinct collapses
them, and the fold is a no-op — idempotent. Multiplicity caveat: a
legitimately duplicated INPUT row (same values twice in the source)
keeps both copies under the one-shot batch operator but one copy here;
callers gating drained ≡ batch must feed full-row-unique updates (the
``stream_skyline_parts`` gate streams part rows, unique by p_partkey).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.skyline import pareto_frontier
from .drain import drain
from .versioned import latest_committed_version


def run_skyline_stream(
    updates: DataFrame,
    minimize: str,
    maximize: str,
    table_root: str,
    checkpoint: str,
) -> DataFrame:
    """Drain ``updates`` into a versioned frontier table, folding each
    micro-batch through the batch skyline operator. Returns the final
    frontier as a batch DataFrame. Version pointer RESUMES from the
    highest COMMITTED ``v{n}`` on disk — ``_SUCCESS``-verified
    (versioned.py), so a partial directory from a crash mid-write is
    skipped and overwritten by the next fold."""
    spark = updates.sparkSession
    os.makedirs(table_root, exist_ok=True)
    current = {"v": latest_committed_version(table_root)}
    schema = updates.schema

    def _frontier() -> DataFrame:
        if current["v"] == 0:
            return spark.createDataFrame([], schema)
        return spark.read.parquet(
            os.path.join(table_root, f"v{current['v']}")
        )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # distinct() makes crash-replay idempotent: a replayed batch's
        # rows are already frontier rows (or dominated), and exact
        # duplicates — which strict dominance can never eliminate —
        # collapse before the frontier test. See module docstring for
        # the input-multiplicity caveat.
        folded = pareto_frontier(
            _frontier().unionByName(batch_df).distinct(), minimize, maximize
        )
        nxt = current["v"] + 1
        folded.write.mode("overwrite").parquet(
            os.path.join(table_root, f"v{nxt}")
        )
        current["v"] = nxt

    drain(updates, apply_batch, checkpoint)
    return _frontier()
