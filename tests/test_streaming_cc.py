"""Streaming connected components (streaming/cc.py): per-batch label
folds must converge to the one-shot batch CC, including merges of
components that were SEPARATE in every earlier micro-batch."""

from __future__ import annotations

import os

from youtube_scraper_db_spark.llm.cluster import connected_components
from youtube_scraper_db_spark.streaming.cc import run_cc_stream
from youtube_scraper_db_spark.streaming.versioned import (
    latest_committed_version,
)


def _drain(spark, tmp_path, batches):
    """Stage one parquet file per batch (sorted file names = replay
    order under maxFilesPerTrigger=1) and drain the CC stream."""
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i, edges in enumerate(batches):
        spark.createDataFrame(edges, "a long, b long").coalesce(1).write.parquet(
            os.path.join(staged, f"batch_{i}.parquet")
        )
    stream = (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged + "/*/")
    )
    table_root = str(tmp_path / "tbl")
    final = run_cc_stream(
        stream, "a", "b", table_root, str(tmp_path / "ckpt")
    )
    return final, table_root


def test_cross_batch_component_merge(spark, tmp_path):
    """Components built in separate early batches must MERGE when a
    later batch bridges them — the fold case a per-batch-only CC would
    get wrong: batch0 makes {1,2,3}, batch1 makes {10,11,12}, batch2's
    single edge (3,10) must collapse both into one component labeled 1."""
    batches = [
        [(1, 2), (2, 3)],
        [(10, 11), (11, 12)],
        [(3, 10)],
    ]
    final, table_root = _drain(spark, tmp_path, batches)
    got = {r["node"]: r["component"] for r in final.collect()}
    assert got == {n: 1 for n in (1, 2, 3, 10, 11, 12)}
    # the loop really advanced version-by-version (one commit per batch),
    # and only the last two versions are kept
    assert latest_committed_version(table_root) == 3
    assert len([d for d in os.listdir(table_root) if d.startswith("v")]) <= 2


def test_stream_equals_batch_cc_any_layout(spark, tmp_path):
    """Drained labels equal the one-shot batch CC on the full edge set —
    including chains built strictly ACROSS batch boundaries and a
    replayed duplicate edge (idempotence of the fold)."""
    batches = [
        [(5, 6), (20, 21)],
        [(6, 7), (21, 22), (5, 6)],  # extends both + replays (5,6)
        [(7, 20)],                   # bridges the two chains
        [(40, 41)],                  # fresh component, untouched after
    ]
    final, _ = _drain(spark, tmp_path, batches)
    all_edges = spark.createDataFrame(
        [e for b in batches for e in b], "a long, b long"
    )
    want = {
        r["node"]: r["component"]
        for r in connected_components(all_edges, "a", "b").collect()
    }
    got = {r["node"]: r["component"] for r in final.collect()}
    assert got == want
    assert got[40] == 40 and got[41] == 40
    assert len({got[n] for n in (5, 6, 7, 20, 21, 22)}) == 1


def test_restart_resumes_label_versions(spark, tmp_path):
    """A rerun against the same checkpoint must fold NEW batches into
    the labels already on disk — not into empty v0 (the version pointer
    resumes from the highest committed v{n} directory)."""
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    spark.createDataFrame([(1, 2)], "a long, b long").coalesce(1).write.parquet(
        os.path.join(staged, "batch_0.parquet")
    )
    table_root = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return (
            spark.readStream.schema("a long, b long")
            .option("maxFilesPerTrigger", "1")
            .parquet(staged + "/*/")
        )

    first = run_cc_stream(stream(), "a", "b", table_root, ckpt)
    assert {r["node"]: r["component"] for r in first.collect()} == {1: 1, 2: 1}

    # "restart": a new edge arrives that must MERGE with the stored
    # component; the old batch is checkpoint-skipped, so a pointer
    # reset to empty v0 would lose node 1/2 entirely
    spark.createDataFrame([(2, 3)], "a long, b long").coalesce(1).write.parquet(
        os.path.join(staged, "batch_1.parquet")
    )
    second = run_cc_stream(stream(), "a", "b", table_root, ckpt)
    got = {r["node"]: r["component"] for r in second.collect()}
    assert got == {1: 1, 2: 1, 3: 1}
