"""Distributed cumulative sum — the scale-safe replacement for
``SUM(x) OVER (ORDER BY k)``.

A global ordered window collapses the whole dataset into ONE reducer
(Spark plans ``Exchange SinglePartition`` + a single sorted partition) —
the canonical scale-killer for running totals, interval sweeps, and
cumulative distributions. The classic two-phase formulation instead:

1. a range shuffle on the sort key cuts the key space into contiguous
   segments; one row per segment (first key, total) comes back to the
   driver, which turns the totals into exclusive prefix offsets;
2. each row is tagged with its segment by comparing its key against the
   segments' first keys, and gets a running sum WITHIN its segment
   (``Window.partitionBy(segment)`` over a range shuffle on the tag — no
   cross-segment ordering, so no single-reducer exchange);
3. the offsets are joined back as a broadcast.

The tag is a pure function of the key. ``spark_partition_id()`` is not:
a range shuffle samples its bounds anew on every execution (the sample
seed follows the RDD id), so two executions can cut at different keys.

Total cost: two range shuffles of the (pre-aggregated) data + one
broadcast of #segments rows, with every stage at full parallelism. The
sweep-line queries built on this (interval stabbing counts, cumulative
revenue) inherit the same scaling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def distributed_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = running sum of ``value_col`` in ``order_col``
    order, without a single-partition exchange.

    ``order_col`` must be unique per row (a total order) — pre-aggregate
    to one row per key first; with duplicate keys split across a range
    boundary the within-key ordering would be partition-dependent."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Materialize the (pre-aggregated, one-row-per-key) input ONCE: both
    # phases read it and would otherwise each recompute the full upstream
    # lineage. Storage is auto-released by the ContextCleaner when the RDD
    # is GC'd.
    df = df.localCheckpoint(eager=True)
    # Phase 1, one row per non-empty range partition: (pid, first key,
    # total). O(#partitions) rows — the only non-distributed step.
    segs = sorted(
        (r["_pid"], r["_lo"], r["_tot"])
        for r in df.repartitionByRange(n, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.min(order_col).alias("_lo"), F.sum(value_col).alias("_tot"))
        .collect()
    )
    # Segment i holds the keys >= its first key and < segment i+1's;
    # NULL keys sort first, so they stay in segment 0.
    bounds = [F.lit(lo) for _, lo, _ in segs[1:]]
    seg = (
        F.size(F.filter(F.array(*bounds), lambda b: b <= F.col(order_col)))
        if bounds
        else F.lit(0)
    )
    w = (
        Window.partitionBy("_seg")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = (
        df.withColumn("_seg", seg)
        .repartitionByRange(n, "_seg")
        .withColumn("_local", F.sum(value_col).over(w))
    )
    if not segs:  # empty input: nothing to offset
        return local.withColumn(out_col, F.col("_local")).drop("_seg", "_local")
    offsets, acc = [], 0
    for i, (_, _, tot) in enumerate(segs):
        offsets.append((i, acc))
        acc += tot or 0
    off_df = df.sparkSession.createDataFrame(offsets, ["_seg", "_offset"])
    return (
        local.join(F.broadcast(off_df), "_seg")
        .withColumn(out_col, F.col("_local") + F.col("_offset"))
        .drop("_seg", "_local", "_offset")
    )
