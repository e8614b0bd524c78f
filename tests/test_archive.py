"""End-to-end Archive facade: create → ingest → query → mutate → export."""

from __future__ import annotations

import contextlib
import json

import pytest
from pyspark.sql import functions as F

from youtube_scraper_db_spark.archive import Archive

PLAYLISTS_JSON = [
    {"playlist_id": "PL001", "title": "Mix One"},
    {"id": "PL002", "title": "mix two"},
]

INBOX_TIMESTAMPED = """TITLE: First
URL: https://www.youtube.com/watch?v=aaaaaaaaaaa

[00:01] alpha beta
"""

INBOX_PLAIN = """TITLE: First plain
URL: https://www.youtube.com/watch?v=aaaaaaaaaaa

alpha beta plain
"""


@pytest.fixture()
def archive(spark, tmp_path):
    return Archive.create(spark, str(tmp_path / "db"))


@contextlib.contextmanager
def jobs_started(spark):
    """Yield a list that holds, after the block, the ids of the Spark
    jobs the block started (through its own job group)."""
    sc = spark.sparkContext
    group = "test-archive-jobs-started"
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    started: list[int] = []
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        yield started
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        started.extend(set(sc.statusTracker().getJobIdsForGroup(group)) - before)


def test_archive_lifecycle(spark, archive, tmp_path):
    # ingest playlists.json (S2+S11)
    pj = tmp_path / "playlists.json"
    pj.write_text(json.dumps(PLAYLISTS_JSON))
    assert archive.import_playlists_json(str(pj)) == 2
    assert archive.table("playlists").count() == 2
    # re-import is idempotent (INSERT OR IGNORE)
    archive.import_playlists_json(str(pj))
    assert archive.table("playlists").count() == 2

    # upsert video metadata (S10)
    videos = spark.createDataFrame(
        [("aaaaaaaaaaa", "First", None, None, None, 63, 10, "Chan", None, None, None, None),
         ("bbbbbbbbbbb", "Second", None, None, None, 120, 5, "Chan", None, None, None, None)],
        schema=archive.table("videos").schema,
    )
    archive.upsert_videos(videos)
    assert archive.table("videos").count() == 2

    # membership sync (J8)
    edges = spark.createDataFrame(
        [("PL001", "aaaaaaaaaaa", 1), ("PL001", "bbbbbbbbbbb", 2), ("PL002", "aaaaaaaaaaa", 1)],
        "playlist_id string, video_id string, position long",
    )
    archive.sync_playlist_membership(edges)
    archive.update_playlist_counts()
    pl = {r.playlist_id: r.item_count for r in archive.table("playlists").collect()}
    assert pl == {"PL001": 2, "PL002": 1}

    # inbox ingestion + preference rule (S9, §2.11)
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "a.txt").write_text(INBOX_TIMESTAMPED)
    assert archive.ingest_transcript_inbox(str(inbox)) == 1
    (inbox / "a.txt").write_text(INBOX_PLAIN)
    archive.ingest_transcript_inbox(str(inbox))
    body = archive.table("transcripts").collect()[0].transcript
    assert body.startswith("[00:01]")  # timestamped body survived

    # query surface
    summary = {r.playlist_id: r.video_count for r in archive.playlist_summary().collect()}
    assert summary == {"PL001": 2, "PL002": 1}
    vids = archive.playlist_videos("PL001").collect()
    flags = {r.video_id: r.has_transcript for r in vids}
    assert flags == {"aaaaaaaaaaa": 1, "bbbbbbbbbbb": 0}
    cross = archive.cross_links().collect()
    assert [r.video_id for r in cross] == ["aaaaaaaaaaa"]  # in both playlists
    hits = archive.search_transcripts("alpha").collect()
    assert len(hits) == 1 and "**alpha**" in hits[0].snippet_highlighted
    stats = archive.stats().collect()[0]
    assert stats.total_videos == 2 and stats.cross_linked_videos == 1
    assert archive.video_playlists("aaaaaaaaaaa").count() == 2

    # cross-link removal (S12)
    archive.remove_video_from_playlists("aaaaaaaaaaa", ["PL002"])
    assert archive.cross_links().count() == 0

    # exports (S14/S15)
    out_json = tmp_path / "export_json"
    archive.export_playlists_json(str(out_json))
    exported = [
        json.loads(ln)
        for f in out_json.glob("*.json")
        for ln in f.read_text().splitlines()
    ]
    by_id = {d["playlist_id"]: d["video_ids"] for d in exported}
    assert by_id["PL001"] == ["aaaaaaaaaaa", "bbbbbbbbbbb"]
    out_txt = tmp_path / "export_txt"
    assert archive.export_transcript_files(str(out_txt)) == 1


def test_commit_crash_leaves_table_intact(spark, archive):
    """A failure at ANY point of _commit must leave the committed version
    readable: (a) mid-write crash — the data job itself fails; (b) crash
    after the write but before the pointer flip."""
    videos = spark.createDataFrame(
        [("aaaaaaaaaaa", "First", None, None, None, 63, 10, "Chan", None, None, None, None)],
        schema=archive.table("videos").schema,
    )
    archive.upsert_videos(videos)
    assert archive.table("videos").count() == 1

    # (a) the rewrite job explodes mid-flight (ANSI cast failure at runtime)
    bad = archive.table("videos").withColumn(
        "view_count", F.expr("CAST('boom' AS BIGINT)")
    )
    with pytest.raises(Exception):
        archive._commit("videos", bad.select(*archive.table("videos").columns))
    assert archive.table("videos").count() == 1  # old version intact

    # (b) crash between data write and pointer flip: simulate by writing
    # the next version dir and NOT the pointer — readers must stay on the
    # committed version, and the next real commit must self-heal.
    import os
    nxt = archive._version_of("videos") + 1
    archive.table("videos").limit(0).write.mode("overwrite").parquet(
        archive._version_path("videos", nxt)
    )
    assert archive.table("videos").count() == 1
    archive.upsert_videos(videos)  # overwrites the orphaned dir
    assert archive.table("videos").count() == 1
    assert os.path.exists(archive._version_file("videos"))


def test_commit_rollback_one_step(spark, archive):
    v1 = spark.createDataFrame(
        [("aaaaaaaaaaa", "First", None, None, None, 63, 10, "Chan", None, None, None, None)],
        schema=archive.table("videos").schema,
    )
    archive.upsert_videos(v1)
    v2 = spark.createDataFrame(
        [("bbbbbbbbbbb", "Second", None, None, None, 10, 1, "Chan", None, None, None, None)],
        schema=archive.table("videos").schema,
    )
    archive.upsert_videos(v2)
    assert archive.table("videos").count() == 2
    archive.rollback("videos")
    assert {r.video_id for r in archive.table("videos").collect()} == {"aaaaaaaaaaa"}
    with pytest.raises(ValueError):
        archive.rollback("videos")  # only one step of history


def test_inbox_ingest_upserts_video_row(spark, archive, tmp_path):
    """Ingested transcripts must never be orphaned: the parsed TITLE/URL
    upsert a videos row (new video → minimal row; existing video keeps its
    scraped metadata, ref add_transcripts.py:144-166)."""
    inbox = tmp_path / "inbox2"
    inbox.mkdir()
    (inbox / "new.txt").write_text(INBOX_TIMESTAMPED)
    archive.ingest_transcript_inbox(str(inbox))

    vids = {r.video_id: r for r in archive.table("videos").collect()}
    assert "aaaaaaaaaaa" in vids  # minimal row created
    assert vids["aaaaaaaaaaa"].title == "First"
    assert vids["aaaaaaaaaaa"].last_scraped_timestamp is not None
    # transcript is visible through the videos-inner-join surface
    assert archive.search_transcripts("alpha").count() == 1

    # existing video: only title/video_url/timestamp change, metadata kept
    full = spark.createDataFrame(
        [("aaaaaaaaaaa", "Old title", "desc", "chan", None, 63, 10, "Auth", None, None, None, None)],
        schema=archive.table("videos").schema,
    )
    archive.upsert_videos(full)
    archive.ingest_transcript_inbox(str(inbox))
    row = {r.video_id: r for r in archive.table("videos").collect()}["aaaaaaaaaaa"]
    assert row.title == "First"  # updated from the inbox header
    assert row.description == "desc" and row.duration_seconds == 63  # survived


def test_compact_reduces_files_and_preserves_rows(spark, archive):
    import glob
    import os

    videos = spark.createDataFrame(
        [(f"vid{i:08d}", f"T{i}", None, None, None, 60, i, "Chan",
          None, None, None, None)
         for i in range(200)],
        schema=archive.table("videos").schema,
    )
    # fragment the table: 16-way write simulates accreted merge output
    archive._commit("videos", videos.repartition(16))
    before = archive.table("videos").collect()
    n_before = len(glob.glob(os.path.join(archive._path("videos"), "*.parquet")))
    assert n_before >= 16

    n_files = archive.compact("videos")
    assert n_files == 1  # tiny table → one right-sized file
    n_after = len(glob.glob(os.path.join(archive._path("videos"), "*.parquet")))
    assert n_after == 1
    assert sorted(r.video_id for r in archive.table("videos").collect()) == sorted(
        r.video_id for r in before
    )
    # compaction is a commit like any other: one rollback step restores
    # the fragmented layout
    archive.rollback("videos")
    n_rb = len(glob.glob(os.path.join(archive._path("videos"), "*.parquet")))
    assert n_rb == n_before


def test_adhoc_sql_over_table_views(spark, archive):
    videos = spark.createDataFrame(
        [("aaaaaaaaaaa", "First", None, None, None, 63, 10, "Chan",
          None, None, None, None),
         ("bbbbbbbbbbb", "Second", None, None, None, 120, 5, "Chan",
          None, None, None, None)],
        schema=archive.table("videos").schema,
    )
    archive.upsert_videos(videos)
    got = archive.sql(
        "SELECT count(*) AS n, sum(duration_seconds) AS total FROM videos"
    ).first()
    assert (got.n, got.total) == (2, 183)
    # views track commits: a mutation is visible to the next sql() call
    archive.sql("SELECT 1").count()  # registers views at old version
    more = videos.withColumn("video_id", F.concat(F.col("video_id"), F.lit("2")))
    archive.upsert_videos(more)
    assert archive.sql("SELECT count(*) AS n FROM videos").first().n == 4


def test_save_table_versioned_roundtrip(spark, archive):
    """Tokenizer-artifact persistence (round 8): arbitrary model tables
    commit through the same versioned protocol — reload exact, version
    increments per commit, rollback restores the previous model."""
    m1 = spark.createDataFrame(
        [(1, "t", "##a", 10), (2, "ta", "##b", 7)],
        "merge_rank int, lhs string, rhs string, pair_count long",
    )
    assert archive.commit("bpe_model", m1) == 1
    got = archive.table("bpe_model").orderBy("merge_rank").collect()
    assert [(r.merge_rank, r.lhs, r.rhs, r.pair_count) for r in got] == [
        (1, "t", "##a", 10), (2, "ta", "##b", 7),
    ]
    m2 = m1.withColumn("pair_count", F.col("pair_count") + 1)
    assert archive.commit("bpe_model", m2) == 2
    assert archive.table("bpe_model").agg(
        F.sum("pair_count")
    ).first()[0] == 19
    archive.rollback("bpe_model")
    assert archive.table("bpe_model").agg(
        F.sum("pair_count")
    ).first()[0] == 17


def _notes(spark, *keys):
    return spark.createDataFrame([(k,) for k in keys], "k int")


def test_table_reuses_frame_of_unchanged_version(spark, archive):
    archive.commit("notes", _notes(spark, 1, 2))
    first = archive.table("notes")
    with jobs_started(spark) as started:
        again = archive.table("notes")
    assert again is first
    assert started == []  # no listing or schema-inference job
    assert sorted(r.k for r in again.collect()) == [1, 2]


def test_table_reads_own_commit(spark, archive):
    archive.commit("notes", _notes(spark, 1))
    assert [r.k for r in archive.table("notes").collect()] == [1]
    archive.commit("notes", _notes(spark, 7, 8))
    assert sorted(r.k for r in archive.table("notes").collect()) == [7, 8]


def test_table_sees_rewritten_version_dir_of_other_handle(spark, archive):
    """Rollback then commit rewrites the same ``.v<N>`` path: a frame
    cached on the version number would name deleted files."""
    archive.commit("notes", _notes(spark, 1))
    assert archive.commit("notes", _notes(spark, 2)) == 2
    assert [r.k for r in archive.table("notes").collect()] == [2]
    other = Archive(spark, archive.root)
    other.rollback("notes")
    assert other.commit("notes", _notes(spark, 3, 4)) == 2
    assert sorted(r.k for r in archive.table("notes").collect()) == [3, 4]


def test_stats_builds_without_a_job(spark, archive):
    archive.stats()  # reads the four tables once
    with jobs_started(spark) as started:
        df = archive.stats()
    assert started == []
    assert df.dtypes == [
        ("total_videos", "bigint"), ("last_update", "timestamp"),
        ("total_playlists", "bigint"), ("total_transcripts", "bigint"),
        ("cross_linked_videos", "bigint"),
    ]
    assert df.collect()[0].asDict() == {
        "total_videos": 0, "last_update": None, "total_playlists": 0,
        "total_transcripts": 0, "cross_linked_videos": 0,
    }
