"""Dashboard analytics (SURVEY.md §2.4 A1-A10, §2.3 J7).

Every aggregate here is a plain hash aggregate with map-side partial
combine; `cross_linked_videos` swaps `countDistinct` for
`approx_count_distinct` behind a flag for the 100 TB path (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..semantics import desc_nulls_last, nocase


def summary_stats(
    playlists: DataFrame,
    videos: DataFrame,
    transcripts: DataFrame,
    playlist_videos: DataFrame,
) -> DataFrame:
    """A1/A4/A5 dashboard stats (ref display.py:145-193) as one single-row
    DataFrame: table counts, cross-linked-video count, last-update max.
    Four one-row aggregates, cross-joined; building it runs no job."""
    cross = (
        playlist_videos.groupBy("video_id")
        .agg(F.countDistinct("playlist_id").alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count("*").alias("cross_linked_videos"))
    )
    return (
        videos.agg(
            F.count("*").alias("total_videos"),
            F.max("last_scraped_timestamp").alias("last_update"),
        )
        .crossJoin(playlists.agg(F.count("*").alias("total_playlists")))
        .crossJoin(transcripts.agg(F.count("*").alias("total_transcripts")))
        .crossJoin(cross)
    )


def cross_linked_videos(
    playlist_videos: DataFrame, videos: DataFrame, approx: bool = False
) -> DataFrame:
    """A3/O5 (ref display.py:126-143): videos in >1 distinct playlist,
    ordered by playlist_count desc then title. ``approx=True`` switches to
    ``approx_count_distinct`` for the 100 TB scale path (then the HAVING
    threshold is approximate too — acceptable for the dedup-audit use)."""
    cnt = (
        F.approx_count_distinct("playlist_id") if approx else F.countDistinct("playlist_id")
    ).alias("playlist_count")
    return (
        playlist_videos.groupBy("video_id")
        .agg(cnt)
        .filter(F.col("playlist_count") > 1)
        .join(videos.select("video_id", "title"), "video_id", "inner")
        .orderBy(desc_nulls_last("playlist_count"), nocase("title"))
    )


def top_channels(videos: DataFrame, k: int = 5) -> DataFrame:
    """A6 (ref display.py:180-188): top-k authors by video count; NULL
    authors excluded (P7). Compiles to TakeOrderedAndProject — no global
    sort at scale. Tie-break on author for determinism."""
    return (
        videos.filter(F.col("author").isNotNull())
        .groupBy("author")
        .agg(F.count("*").alias("video_count"))
        .orderBy(desc_nulls_last("video_count"), F.col("author"))
        .limit(k)
    )


def per_playlist_stats(playlists: DataFrame, playlist_videos: DataFrame, videos: DataFrame) -> DataFrame:
    """J7/A8 (ref web_app.py:28-41): the three correlated scalar subqueries
    decorrelated into one groupBy — count, min(publish_date),
    max(last_scraped_timestamp) per playlist, left-joined onto playlists so
    empty playlists keep NULL stats."""
    stats = (
        playlist_videos.join(
            videos.select("video_id", "publish_date", "last_scraped_timestamp"),
            "video_id",
            "inner",
        )
        .groupBy("playlist_id")
        .agg(
            F.count("video_id").alias("song_count"),
            F.min("publish_date").alias("date_created"),
            F.max("last_scraped_timestamp").alias("date_updated"),
        )
    )
    return (
        playlists.join(stats, "playlist_id", "left")
        .withColumn("song_count", F.coalesce(F.col("song_count"), F.lit(0)))
        .orderBy(nocase("title"))
    )
