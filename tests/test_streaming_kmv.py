"""Streaming KMV (streaming/kmv.py): per-batch bottom-k folds must
equal the one-shot batch sketch for any micro-batch layout, survive
restarts by resuming the version pointer, and stay idempotent under
batch replay."""

from __future__ import annotations

import os

from youtube_scraper_db_spark.operators.kmv import kmv_sketch
from youtube_scraper_db_spark.streaming.kmv import run_kmv_stream
from youtube_scraper_db_spark.streaming.versioned import (
    latest_committed_version,
)

K = 16


def _stage(spark, tmp_path, batches):
    staged = str(tmp_path / "staged")
    os.makedirs(staged, exist_ok=True)
    for i, keys in enumerate(batches):
        spark.createDataFrame(
            [(x,) for x in keys], "k string"
        ).coalesce(1).write.parquet(os.path.join(staged, f"batch_{i}.parquet"))
    return staged


def _stream(spark, staged):
    return (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged + "/*/")
    )


def _hashes(df):
    return sorted(r["h"] for r in df.collect())


def test_stream_equals_batch_any_layout(spark, tmp_path):
    batches = [
        [f"a{i}" for i in range(40)],
        [f"b{i}" for i in range(40)],
        [f"a{i}" for i in range(20)],  # replayed keys — pure dupes
        [f"c{i}" for i in range(5)],
    ]
    staged = _stage(spark, tmp_path, batches)
    final = run_kmv_stream(
        _stream(spark, staged), "k", K, str(tmp_path / "tbl"),
        str(tmp_path / "ckpt"),
    )
    all_keys = spark.createDataFrame(
        [(x,) for b in batches for x in b], "k string"
    )
    assert _hashes(final) == _hashes(kmv_sketch(all_keys, "k", K))


def test_version_advances_per_batch(spark, tmp_path):
    batches = [["x1", "x2"], ["x3"], ["x4"]]
    staged = _stage(spark, tmp_path, batches)
    tbl = str(tmp_path / "tbl")
    run_kmv_stream(
        _stream(spark, staged), "k", K, tbl, str(tmp_path / "ckpt")
    )
    # one commit per batch, and only the last two versions are kept
    assert latest_committed_version(tbl) == 3
    assert len([d for d in os.listdir(tbl) if d.startswith("v")]) <= 2


def test_restart_resumes_sketch_versions(spark, tmp_path):
    staged = _stage(spark, tmp_path, [[f"a{i}" for i in range(30)]])
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    first = run_kmv_stream(_stream(spark, staged), "k", K, tbl, ckpt)
    base = _hashes(first)
    assert len(base) == K

    # "restart": a new batch arrives; the old one is checkpoint-skipped,
    # so a pointer reset to empty v0 would forget the first 30 keys
    spark.createDataFrame(
        [(f"b{i}",) for i in range(30)], "k string"
    ).coalesce(1).write.parquet(os.path.join(staged, "batch_1.parquet"))
    second = run_kmv_stream(_stream(spark, staged), "k", K, tbl, ckpt)
    all_keys = spark.createDataFrame(
        [(f"a{i}",) for i in range(30)] + [(f"b{i}",) for i in range(30)],
        "k string",
    )
    assert _hashes(second) == _hashes(kmv_sketch(all_keys, "k", K))
