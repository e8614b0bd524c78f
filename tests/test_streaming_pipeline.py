"""Streaming inbox (T5) and the incremental refresh pipeline (T1-T4)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from youtube_scraper_db_spark import schemas
from youtube_scraper_db_spark.pipelines import (
    fetch_stage,
    refresh_playlists,
    stale_work_set,
)
from youtube_scraper_db_spark.streaming.inbox import (
    run_inbox_once,
    transcript_preference_merge,
)
from tests.conftest import ts

TIMESTAMPED = """TITLE: T
URL: https://youtu.be/abcdefghijk

[00:01] timed line
"""

PLAIN = """TITLE: P
URL: https://youtu.be/abcdefghijk

plain replacement
"""


def test_inbox_stream_drains_once(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "one.txt").write_text(TIMESTAMPED)
    ckpt = str(tmp_path / "ckpt")

    seen: list[tuple[str, bool]] = []

    def apply(batch, epoch_id):
        seen.extend((r.video_id, r.has_timestamps) for r in batch.collect())

    run_inbox_once(spark, str(inbox), ckpt, apply)
    assert seen == [("abcdefghijk", True)]

    # Second drain with the same checkpoint: file already consumed.
    seen.clear()
    run_inbox_once(spark, str(inbox), ckpt, apply)
    assert seen == []


def test_transcript_preference_merge(spark):
    old = spark.createDataFrame(
        [("abcdefghijk", "en", "[00:01] timed", ts("2024-01-01T00:00:00"), None),
         ("keepmeplain", "en", "old plain", ts("2024-01-01T00:00:00"), None)],
        schema=schemas.TRANSCRIPTS,
    )
    new = spark.createDataFrame(
        [("abcdefghijk", "en", "new plain", ts("2024-02-01T00:00:00"), None),
         ("keepmeplain", "en", "new plain 2", ts("2024-02-01T00:00:00"), None),
         ("brandnewvid", "en", "fresh", ts("2024-02-01T00:00:00"), None)],
        schema=schemas.TRANSCRIPTS,
    )
    got = {r.video_id: r.transcript for r in transcript_preference_merge(old, new).collect()}
    assert got["abcdefghijk"] == "[00:01] timed"  # old timestamped wins
    assert got["keepmeplain"] == "new plain 2"  # plain old loses
    assert got["brandnewvid"] == "fresh"  # insert


def test_stale_work_set(spark, videos):
    now = F.lit(dt.datetime(2024, 1, 10, tzinfo=dt.timezone.utc)).cast("timestamp")
    due = {r.video_id for r in stale_work_set(videos, now_col=now).collect()}
    # vid1 scraped 2024-01-09 (fresh); vid2 2024-01-02 (8 days, stale);
    # vid3 never scraped; vid4 2023-11-01 (stale).
    assert due == {"vid00000002", "vid00000003", "vid00000004"}


def test_fetch_stage_retry_and_failure(spark):
    from pyspark.sql import types as T

    # ``title`` is non-nullable, as in ``schemas.VIDEOS``: a failed fetch
    # still yields its row of NULLs.
    schema = T.StructType([
        T.StructField("view_count", T.LongType()),
        T.StructField("title", T.StringType(), False),
    ])

    def fetcher(vid: str) -> dict:
        if vid == "bad":
            raise RuntimeError("always down")
        return {"view_count": len(vid), "title": vid.upper()}

    ids = spark.createDataFrame([("ok12345",), ("bad",)], "video_id string")
    rows = {r.video_id: r for r in fetch_stage(ids, fetcher, schema).collect()}
    assert rows["ok12345"].fetch_ok and rows["ok12345"].view_count == 7
    assert rows["ok12345"].title == "OK12345"
    assert not rows["bad"].fetch_ok and rows["bad"].view_count is None
    assert rows["bad"].title is None


def test_refresh_pipeline_end_to_end(spark, playlists, playlist_videos, videos):
    now = F.lit(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)).cast("timestamp")
    pings = spark.createDataFrame([], schema=schemas.PLAYLIST_PINGS)
    # Fetched snapshot: PL001 dropped vid3, gained vid4; PL002 unchanged.
    membership = spark.createDataFrame(
        [("PL001", "vid00000001", 1), ("PL001", "vid00000002", 2),
         ("PL001", "vid00000004", 3), ("PL002", "vid00000001", 1)],
        schema=schemas.PLAYLIST_VIDEOS,
    )
    fetched = videos.filter(F.col("video_id") == "vid00000002").withColumn(
        "view_count", F.lit(999).cast("long")
    ).withColumn("fetch_ok", F.lit(True)).unionByName(
        videos.filter(F.col("video_id") == "vid00000004").withColumn(
            "fetch_ok", F.lit(False)
        )
    )

    res = refresh_playlists(
        playlists, playlist_videos, videos, pings, membership, fetched, now
    )

    edges = {(r.playlist_id, r.video_id) for r in res.playlist_videos.collect()}
    assert ("PL001", "vid00000004") in edges  # added
    assert ("PL001", "vid00000003") not in edges  # removed
    assert ("PL004", "vid00000002") in edges  # untouched playlist intact

    pl = {r.playlist_id: r for r in res.playlists.collect()}
    assert pl["PL001"].item_count == 3 and pl["PL001"].last_updated is not None
    assert pl["PL003"].item_count == 0  # untouched

    v = {r.video_id: r for r in res.videos.collect()}
    assert v["vid00000002"].view_count == 999  # upserted
    assert v["vid00000004"].view_count == 7  # failed fetch → old row kept

    statuses = {r.playlist_id: r.status for r in res.pings.collect()}
    assert statuses == {"PL001": "completed", "PL002": "completed"}

    report = {r.outcome: r["count"] for r in res.report.collect()}
    assert report == {"scraped": 1, "failed": 1}


def test_refresh_failed_fetch_pings(spark, playlists, playlist_videos, videos):
    """A playlist that was ATTEMPTED but produced no snapshot rows must get
    a failed_fetch ping, not silently disappear (ref main_scraper.py:306-312)."""
    now = F.lit(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)).cast("timestamp")
    pings = spark.createDataFrame(
        [(7, "PL001", ts("2024-01-01T00:00:00"), "completed")],
        schema=schemas.PLAYLIST_PINGS,
    )
    membership = spark.createDataFrame(
        [("PL001", "vid00000001", 1)], schema=schemas.PLAYLIST_VIDEOS
    )
    fetched = videos.limit(0).withColumn("fetch_ok", F.lit(True))
    attempted = spark.createDataFrame([("PL001",), ("PL002",)], "playlist_id string")

    res = refresh_playlists(
        playlists, playlist_videos, videos, pings, membership, fetched, now,
        attempted_playlists=attempted,
    )
    new = {r.playlist_id: r for r in res.pings.collect() if r.ping_id != 7}
    assert new["PL001"].status == "completed"
    assert new["PL002"].status == "failed_fetch"
    # ids stay unique and above the existing maximum
    ids = [r.ping_id for r in res.pings.collect()]
    assert len(ids) == len(set(ids)) and all(i > 7 for i in ids if i != 7)
