"""distributed_cumsum (operators/prefix_sum.py): values vs a driver-side
running sum, and the plan guarantee that makes it scale — no
single-partition exchange."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from youtube_scraper_db_spark.operators.prefix_sum import distributed_cumsum


def test_cumsum_matches_sequential(spark):
    # 20000 rows are more than the range shuffle's bound sample takes, so
    # each execution of that shuffle draws its own bounds.
    for n_rows, n_parts in ((500, 7), (20000, 2)):
        rng = random.Random(17)
        rows = [(i, rng.randint(-5, 20)) for i in range(n_rows)]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "k long, v long")
        got = {
            r.k: r.cs
            for r in distributed_cumsum(
                df, "k", "v", out_col="cs", num_partitions=n_parts
            ).collect()
        }
        acc = 0
        for k, v in sorted(rows):
            acc += v
            assert got[k] == acc, f"at k={k} ({n_rows} rows)"


def test_cumsum_no_single_partition_exchange(spark):
    df = spark.createDataFrame([(i, 1) for i in range(100)], "k long, v long")
    plan = (
        distributed_cumsum(df, "k", "v", num_partitions=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_cumsum_empty_input(spark):
    df = spark.createDataFrame([], "k long, v long")
    assert distributed_cumsum(df, "k", "v").count() == 0
