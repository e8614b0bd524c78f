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

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.sampling import weighted_sample, weighted_sample_grouped
from .drain import drain
from .versioned import latest_committed_version


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
    Version pointer resumes from the highest COMMITTED ``v{n}``
    (``_SUCCESS``-verified — versioned.py)."""
    spark = updates.sparkSession
    os.makedirs(table_root, exist_ok=True)
    current = {"v": latest_committed_version(table_root)}

    def _sample(df: DataFrame) -> DataFrame:
        if group_col is None:
            return weighted_sample(df, id_col, weight_col, n)
        return weighted_sample_grouped(df, group_col, id_col, weight_col, n)

    def _reservoir() -> DataFrame | None:
        if current["v"] == 0:
            return None
        return spark.read.parquet(
            os.path.join(table_root, f"v{current['v']}")
        )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # rank the batch alone first (batch-sized work, O(n) survivors),
        # then re-rank against the stored reservoir — the union is ≤ 2n
        # rows (per stratum), so the fold never re-reads history
        sampled = _sample(batch_df)
        stored = _reservoir()
        if stored is not None:
            folded = _sample(
                stored.unionByName(sampled).distinct().drop("priority")
            )
        else:
            folded = sampled
        nxt = current["v"] + 1
        folded.write.mode("overwrite").parquet(
            os.path.join(table_root, f"v{nxt}")
        )
        current["v"] = nxt

    drain(updates, apply_batch, checkpoint)
    final = _reservoir()
    if final is None:
        return _sample(updates.sparkSession.createDataFrame([], updates.schema))
    return final
