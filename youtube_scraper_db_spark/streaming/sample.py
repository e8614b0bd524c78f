"""Streaming weighted sampling — the A-Res reservoir maintained over a
stream via ``foreachBatch`` + the batch sampler (llm/sampling.py), the
sampling member of the streaming maintenance family (KMV folds the
bottom-k hash sample, Misra-Gries folds count summaries, the skyline
folds dominance; this folds the top-k PRIORITY sample).

Why the fold is exact: the Efraimidis–Spirakis priority u^(1/w) is a
pure per-row function (md5(id)-derived u, 6 dp), so
top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B)) — the same order-statistic
mergeability the ``weighted_sample_merge`` gate proves for shards,
applied over time instead of space. State is O(k) rows per stratum
FOREVER; each micro-batch costs one batch-sized rank + a ≤2k re-rank.

Replay idempotency: a crash-replayed batch re-adds rows the reservoir
already holds; the fold's ``distinct()`` collapses the full-row
duplicates and the re-rank is a no-op (the streaming/skyline.py
contract — inputs are full-row-unique by the ingest invariant, one row
per id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..llm.sampling import weighted_sample, weighted_sample_grouped
from .versioned import fold_stream


def run_weighted_sample_stream(
    updates: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    table_root: str,
    checkpoint: str,
    group_col: str | None = None,
) -> DataFrame:
    """Drain ``updates`` into a versioned top-``n``-by-priority
    reservoir (per ``group_col`` stratum when given), folding each
    micro-batch through the batch sampler. Returns the final reservoir
    as a batch DataFrame (columns of ``updates`` + ``priority``).
    Commit, resume and GC follow versioned.py."""

    def _sample(df: DataFrame) -> DataFrame:
        if group_col is None:
            return weighted_sample(df, id_col, weight_col, n)
        return weighted_sample_grouped(df, group_col, id_col, weight_col, n)

    empty = _sample(updates.sparkSession.createDataFrame([], updates.schema))

    def fold(stored: DataFrame, batch: DataFrame) -> DataFrame:
        # rank the batch alone first (batch-sized work, O(n) survivors),
        # then re-rank against the stored reservoir — the union is ≤ 2n
        # rows (per stratum), so the fold never re-reads history; with
        # nothing stored (``stored is empty``) the batch's sample is the
        # reservoir
        sampled = _sample(batch)
        if stored is empty:
            return sampled
        return _sample(stored.unionByName(sampled).distinct().drop("priority"))

    return fold_stream(updates, table_root, checkpoint, empty, fold)
