"""Versioned-state protocol (streaming/versioned.py): every stream fold
keeps at most two version directories however many batches it drains,
its returned state stays readable, and a restart folds into the kept
version. ``drop_below`` is checked without Spark."""

from __future__ import annotations

import os

import pytest

from youtube_scraper_db_spark.llm.cluster import connected_components
from youtube_scraper_db_spark.llm.sampling import weighted_sample
from youtube_scraper_db_spark.operators.kmv import kmv_sketch
from youtube_scraper_db_spark.operators.merge import merge_upsert
from youtube_scraper_db_spark.operators.skyline import pareto_frontier
from youtube_scraper_db_spark.streaming.cc import run_cc_stream
from youtube_scraper_db_spark.streaming.cdc import run_upsert_stream
from youtube_scraper_db_spark.streaming.kmv import run_kmv_stream
from youtube_scraper_db_spark.streaming.sample import (
    run_weighted_sample_stream,
)
from youtube_scraper_db_spark.streaming.skyline import run_skyline_stream
from youtube_scraper_db_spark.streaming.versioned import (
    drop_below,
    latest_committed_version,
    versions,
)

SCHEMA = "a long, b long, w double"


def _base(spark):
    return spark.createDataFrame([(0, 0, 1.0), (3, 9, 2.0)], SCHEMA)


# runner name -> (run(updates, root, ckpt), one-shot batch answer(all rows))
RUNNERS = {
    "kmv": (
        lambda u, r, c: run_kmv_stream(u, "a", 8, r, c),
        lambda df: kmv_sketch(df, "a", 8),
    ),
    "cc": (
        lambda u, r, c: run_cc_stream(u, "a", "b", r, c),
        lambda df: connected_components(df, "a", "b"),
    ),
    "skyline": (
        lambda u, r, c: run_skyline_stream(u, "a", "w", r, c),
        lambda df: pareto_frontier(df, "a", "w"),
    ),
    "sample": (
        lambda u, r, c: run_weighted_sample_stream(u, "a", "w", 5, r, c),
        lambda df: weighted_sample(df, "a", "w", 5),
    ),
    "cdc": (
        lambda u, r, c: run_upsert_stream(u, _base(u.sparkSession), ["a"], r, c),
        lambda df: merge_upsert(_base(df.sparkSession), df, ["a"]),
    ),
}


def _batch(i):
    # keys unique across batches (the CDC feed is one row per key);
    # a chain of edges per batch, weights rising then falling
    return [(10 * i + j, 10 * i + j + 1, float((j * 7 + i) % 5 + 1))
            for j in range(6)]


def _write_batch(spark, staged, i):
    spark.createDataFrame(_batch(i), SCHEMA).coalesce(1).write.parquet(
        os.path.join(staged, f"b_{i}.parquet")
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _version_dirs(root):
    return [d for d in os.listdir(root) if d.startswith("v")]


@pytest.mark.parametrize("name", sorted(RUNNERS))
def test_fold_keeps_two_versions_and_resumes(spark, tmp_path, name):
    run, want = RUNNERS[name]
    staged = str(tmp_path / "staged")
    root, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")

    def stream():
        return (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged + "/*/")
        )

    def all_rows(n):
        return spark.createDataFrame(
            [r for i in range(n) for r in _batch(i)], SCHEMA
        )

    for i in range(4):
        _write_batch(spark, staged, i)
    first = run(stream(), root, ckpt)
    assert latest_committed_version(root) == 4
    assert sorted(_version_dirs(root)) == ["v3", "v4"]
    first_rows = _rows(first)
    assert first_rows == _rows(want(all_rows(4)))

    # restart: one more batch folds into the kept v4, not the initial state
    _write_batch(spark, staged, 4)
    second = run(stream(), root, ckpt)
    assert latest_committed_version(root) == 5
    assert sorted(_version_dirs(root)) == ["v4", "v5"]
    assert _rows(second) == _rows(want(all_rows(5)))
    # the previous run's result reads the kept previous version
    assert _rows(first) == first_rows


def _mkdir(path, committed):
    os.makedirs(path)
    if committed:
        open(os.path.join(path, "_SUCCESS"), "w").close()


def test_drop_below_removes_only_older_versions(tmp_path):
    root = str(tmp_path)
    for k in (1, 2, 3):
        _mkdir(os.path.join(root, f"v{k}"), committed=k != 2)
    _mkdir(os.path.join(root, "v4"), committed=True)
    _mkdir(os.path.join(root, "v5"), committed=False)  # torn next write
    for other in ("vx", "base_v1", "v"):
        _mkdir(os.path.join(root, other), committed=True)
    prefix = os.path.join(root, "v")
    assert [k for k, _ in versions(prefix)] == [1, 2, 3, 4, 5]
    assert latest_committed_version(root) == 4

    drop_below(prefix, 3)
    assert sorted(os.listdir(root)) == ["base_v1", "v", "v3", "v4", "v5", "vx"]
    drop_below(prefix, 3)  # idempotent
    assert [k for k, _ in versions(prefix)] == [3, 4, 5]
    drop_below(os.path.join(root, "missing", "v"), 9)  # no parent: no-op
