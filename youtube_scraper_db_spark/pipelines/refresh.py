"""Incremental refresh pipeline (T1-T4, P10, A9, A10, S17; ref
main_scraper.py:220-407 traced in SURVEY.md §3.2).

The reference's per-playlist Python loop collapses into set-oriented
stages, each one shuffle or less:

1. work set     — staleness filter (P10): refresh only rows older than the
                  threshold, or never scraped.
2. fetch        — per-id external I/O through an injectable fetcher inside
                  ``mapInPandas`` (Arrow-batched, executor-side retry with
                  exponential backoff + rate limit, T4). Tests inject a
                  deterministic fake; production injects yt-dlp et al.
3. diff-sync    — membership reconciliation via two anti-joins (J8).
4. write-back   — merge_upsert for videos (S10), field_update for playlist
                  item_count/last_updated (A9+S13), audit-ping append (S17).
5. report       — outcome counters (A10).

At 100 TB the fetch stage dominates wall-clock and parallelizes per
partition; every set stage broadcasts the small side (a scrape run's
output) against the big stored table.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.diffsync import sync_scoped_membership
from ..operators.merge import field_update, merge_upsert

#: ref main_scraper.py:34-36.
DEFAULT_THRESHOLD_DAYS = 7


def stale_work_set(
    videos: DataFrame,
    now_col=None,
    threshold_days: int = DEFAULT_THRESHOLD_DAYS,
) -> DataFrame:
    """Video ids due for a refresh (P10/T2): never scraped, or scraped more
    than ``threshold_days`` ago. ``now_col`` defaults to the cluster clock;
    tests pass a literal for determinism."""
    now = F.current_timestamp() if now_col is None else now_col
    ts = F.col("last_scraped_timestamp")
    due = ts.isNull() | (ts <= now - F.expr(f"INTERVAL {threshold_days} DAYS"))
    return videos.filter(due).select("video_id")


def fetch_stage(
    ids: DataFrame,
    fetcher: Callable[[str], dict],
    result_schema: T.StructType,
    id_col: str = "video_id",
    max_retries: int = 2,
    backoff_s: float = 0.0,
    rate_limit_s: float = 0.0,
) -> DataFrame:
    """Per-id external fetch as an Arrow-batched ``mapInPandas`` stage (T4;
    ref main_scraper.py:359-367 retry, :31 rate limit).

    ``fetcher(id) -> dict`` runs executor-side with per-id retry and
    exponential backoff; a fetch that still fails yields a row of NULLs
    plus ``fetch_ok = False`` so downstream can count failures (A10)
    instead of losing rows, so every ``result_schema`` field is output as
    nullable. The stage is map-only: parallelism = input partitions, no
    shuffle.
    """
    out_schema = T.StructType(
        [T.StructField(id_col, T.StringType(), False)]
        + [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in result_schema.fields
        ]
        + [T.StructField("fetch_ok", T.BooleanType(), False)]
    )
    field_names = [f.name for f in result_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid in pdf[id_col]:
                rec, ok = None, False
                for attempt in range(max_retries + 1):
                    try:
                        rec = fetcher(vid)
                        ok = True
                        break
                    except Exception:
                        if attempt < max_retries and backoff_s:
                            time.sleep(backoff_s * (2**attempt))
                if rate_limit_s:
                    time.sleep(rate_limit_s)
                base = {name: None for name in field_names}
                if ok and rec is not None:
                    base.update({k: v for k, v in rec.items() if k in base})
                base[id_col] = vid
                base["fetch_ok"] = ok
                rows.append(base)
            yield pd.DataFrame(rows, columns=[id_col, *field_names, "fetch_ok"])

    return ids.select(id_col).mapInPandas(run, schema=out_schema)


@dataclass
class RefreshResult:
    """Post-refresh state plus the audit trail."""

    playlists: DataFrame
    playlist_videos: DataFrame
    videos: DataFrame
    pings: DataFrame
    report: DataFrame


def refresh_playlists(
    playlists: DataFrame,
    playlist_videos: DataFrame,
    videos: DataFrame,
    pings: DataFrame,
    fetched_membership: DataFrame,
    fetched_videos: DataFrame,
    now_col,
    attempted_playlists: DataFrame | None = None,
) -> RefreshResult:
    """One refresh run (ref main_scraper.py:270-392), fully set-oriented.

    ``fetched_membership``: current ``(playlist_id, video_id, position)``
    snapshot from the source of truth (the fetch stage's output).
    ``fetched_videos``: refreshed video metadata rows (``videos`` schema
    plus ``fetch_ok``).
    ``attempted_playlists``: the playlists this run TRIED to fetch (one
    ``playlist_id`` column). Playlists attempted but absent from the
    snapshot (their fetch failed) get a ``failed_fetch`` audit ping, like
    the reference (ref main_scraper.py:306-312). Defaults to the
    playlists present in the snapshot, i.e. all-successful.
    """
    # J8 + S11/S12: reconcile the edge table with the fetched snapshot,
    # scoped to the playlists the snapshot covers.
    synced_edges = sync_scoped_membership(
        playlist_videos, fetched_membership, "playlist_id", ["playlist_id", "video_id"]
    )

    # A9 + S13: write back per-playlist distinct counts and freshness.
    counts = (
        fetched_membership.groupBy("playlist_id")
        .agg(F.countDistinct("video_id").alias("item_count"))
        .withColumn("last_updated", now_col)
    )
    updated_playlists = field_update(
        playlists, counts, ["playlist_id"], ["item_count", "last_updated"]
    )

    # S10: upsert successfully fetched video metadata.
    ok_videos = fetched_videos.filter(F.col("fetch_ok")).drop("fetch_ok")
    updated_videos = merge_upsert(videos, ok_videos, ["video_id"])

    # S17: append one audit ping per ATTEMPTED playlist (ref
    # main_scraper.py:306-312): 'completed' when the fetch yielded items,
    # 'failed_fetch' when the playlist was attempted but produced no
    # snapshot rows — failed fetches must not silently disappear.
    attempted = (
        attempted_playlists.select("playlist_id").distinct()
        if attempted_playlists is not None
        else fetched_membership.select("playlist_id").distinct()
    )
    outcomes = attempted.join(
        counts.select("playlist_id", "item_count"), "playlist_id", "left"
    )
    status = F.when(
        F.col("item_count").isNotNull() & (F.col("item_count") > 0), "completed"
    ).otherwise("failed_fetch")
    # Distributed id assignment: max(ping_id) rides in as a broadcast
    # one-row aggregate (no driver-side .first() mid-pipeline) and per-row
    # ids come from monotonically_increasing_id — cluster-wide unique and
    # increasing, with gaps. AUTOINCREMENT parity (ref main_scraper.py:233)
    # is uniqueness + monotonicity, not contiguity; the previous
    # Window.orderBy with no partitionBy funneled every row through one
    # reducer.
    if pings is not None:
        maxp = pings.agg(F.coalesce(F.max("ping_id"), F.lit(0)).alias("__maxp"))
        based = outcomes.crossJoin(F.broadcast(maxp))
    else:
        based = outcomes.withColumn("__maxp", F.lit(0).cast("long"))
    new_pings = based.select(
        (F.col("__maxp") + 1 + F.monotonically_increasing_id()).alias("ping_id"),
        "playlist_id",
        now_col.alias("pinged_timestamp"),
        status.alias("status"),
    )
    all_pings = pings.unionByName(new_pings) if pings is not None else new_pings

    # A10: run report — fetch outcomes + membership churn.
    report = (
        fetched_videos.select(
            F.when(F.col("fetch_ok"), "scraped").otherwise("failed").alias("outcome")
        )
        .groupBy("outcome")
        .count()
    )
    return RefreshResult(
        playlists=updated_playlists,
        playlist_videos=synced_edges,
        videos=updated_videos,
        pings=all_pings,
        report=report,
    )
