"""operators/bucketing.py — the co-located join must plan with zero
Exchange and zero Sort, and produce exactly the shuffled join's rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_scraper_db_spark.operators.bucketing import (
    ensure_bucketed,
    write_bucketed,
)


@pytest.fixture(scope="module")
def bucketed_pair(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bkt")
    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 6000).select(
        (F.col("id") % 2000).alias("k"), F.col("id").alias("b")
    )
    write_bucketed(left, "t_bkt_left", ["k"], 4, path=str(base / "l"))
    write_bucketed(right, "t_bkt_right", ["k"], 4, path=str(base / "r"))
    return left, right


def test_bucketed_join_has_no_exchange_or_sort(spark, bucketed_pair):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bkt_left").join(spark.table("t_bkt_right"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "Sort [" not in plan, plan  # "SortMergeJoin [" doesn't match
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_agg_has_no_exchange(spark, bucketed_pair):
    agg = spark.table("t_bkt_right").groupBy("k").agg(F.sum("b").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_bucketed_join_matches_shuffled_join(spark, bucketed_pair):
    left, right = bucketed_pair
    want = left.join(right, "k").groupBy("a").agg(
        F.count("*").alias("n"), F.sum("b").alias("s")
    )
    got = (
        spark.table("t_bkt_left")
        .join(spark.table("t_bkt_right"), "k")
        .groupBy("a")
        .agg(F.count("*").alias("n"), F.sum("b").alias("s"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_ensure_bucketed_idempotent(spark, bucketed_pair, tmp_path):
    left, _ = bucketed_pair
    before = spark.table("t_bkt_left").count()
    df = ensure_bucketed(
        spark, left.limit(5), "t_bkt_left", ["k"], 4, path=str(tmp_path / "x")
    )
    # table already existed: not rewritten, same row count
    assert df.count() == before


def test_bucketed_gate_keeps_same_basename_datasets_apart(spark, tmp_path):
    """``bucketed_order_lines`` caches its bucketed copies per catalog:
    a second dataset whose directory has the same basename must get its
    own copies, so each run matches its own dataset's oracle."""
    import os
    import sys

    import duckdb
    import pyarrow.parquet as pq
    from test_plan_lint import SF as src

    from youtube_scraper_db_spark.registry import REGISTRY

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import canon_rows

    alt = tmp_path / "alt" / "sf0.001"
    alt.mkdir(parents=True)
    pq.write_table(pq.read_table(f"{src}/orders.parquet"), alt / "orders.parquet")
    li = pq.read_table(f"{src}/lineitem.parquet")
    pq.write_table(li.slice(0, li.num_rows // 2), alt / "lineitem.parquet")

    spec = next(s for s in REGISTRY if s.name == "bucketed_order_lines")
    for sf in (src, str(alt)):
        con = duckdb.connect()
        for t in ("orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        rel = con.sql(spec.oracle)
        want = canon_rows(rel.columns, rel.fetchall())
        got = spec.fn(spark, sf)
        assert canon_rows(got.columns, [tuple(r) for r in got.collect()]) == want, sf
