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

from pyspark.sql import DataFrame

from ..operators.skyline import pareto_frontier
from .versioned import fold_stream


def run_skyline_stream(
    updates: DataFrame,
    minimize: str,
    maximize: str,
    table_root: str,
    checkpoint: str,
) -> DataFrame:
    """Drain ``updates`` into a versioned frontier table, folding each
    micro-batch through the batch skyline operator. Returns the final
    frontier as a batch DataFrame. The initial state is the empty
    frontier; commit, resume and GC follow versioned.py."""
    empty = updates.sparkSession.createDataFrame([], updates.schema)

    def fold(frontier: DataFrame, batch: DataFrame) -> DataFrame:
        # distinct() makes crash-replay idempotent: a replayed batch's
        # rows are already frontier rows (or dominated), and exact
        # duplicates — which strict dominance can never eliminate —
        # collapse before the frontier test. See module docstring for
        # the input-multiplicity caveat.
        return pareto_frontier(
            frontier.unionByName(batch).distinct(), minimize, maximize
        )

    return fold_stream(updates, table_root, checkpoint, empty, fold)
