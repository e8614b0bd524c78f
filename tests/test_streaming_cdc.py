"""CDC apply loop (streaming/cdc.py): per-batch versioned merge into a
stored table must converge to the one-shot batch merge, actually
advancing through multiple table versions while keeping only two."""

from __future__ import annotations

import os

from youtube_scraper_db_spark.operators.merge import merge_upsert
from youtube_scraper_db_spark.streaming.cdc import run_upsert_stream
from youtube_scraper_db_spark.streaming.versioned import (
    latest_committed_version,
)


def test_cdc_stream_converges_to_batch_merge(spark, tmp_path):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B"), (4, "D"), (5, "E")], "k long, v string"
    )
    staged = str(tmp_path / "staged")
    updates.repartition(3).write.parquet(staged)
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    table_root = str(tmp_path / "tbl")
    final = run_upsert_stream(
        stream, base, ["k"], table_root, str(tmp_path / "ckpt")
    )
    got = sorted(map(tuple, final.collect()))
    want = sorted(map(tuple, merge_upsert(base, updates, ["k"]).collect()))
    assert got == want == [(1, "a"), (2, "B"), (3, "c"), (4, "D"), (5, "E")]
    # the loop really advanced version-by-version: one commit per staged
    # file (each a non-empty batch), and only the last two are kept
    files = [f for f in os.listdir(staged) if f.endswith(".parquet")]
    assert len(files) >= 2
    assert latest_committed_version(table_root) == len(files)
    assert len([d for d in os.listdir(table_root) if d.startswith("v")]) <= 2


def test_restart_resumes_from_committed_version(spark, tmp_path):
    base = spark.createDataFrame([(1, "a0")], "k long, v string")
    staged = str(tmp_path / "staged")
    table_root, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")

    def stream():
        return (
            spark.readStream.schema("k long, v string")
            .option("maxFilesPerTrigger", "1")
            .parquet(staged + "/*/")
        )

    spark.createDataFrame([(1, "a1")], "k long, v string").coalesce(
        1
    ).write.parquet(os.path.join(staged, "b_0.parquet"))
    run_upsert_stream(stream(), base, ["k"], table_root, ckpt)
    # restart: the checkpoint skips the first batch, so re-seeding the
    # table from ``base`` would lose its update
    spark.createDataFrame([(2, "b1")], "k long, v string").coalesce(
        1
    ).write.parquet(os.path.join(staged, "b_1.parquet"))
    final = run_upsert_stream(stream(), base, ["k"], table_root, ckpt)
    assert sorted(map(tuple, final.collect())) == [(1, "a1"), (2, "b1")]
