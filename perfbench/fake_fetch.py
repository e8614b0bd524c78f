"""Deterministic in-process stand-in for the scraper's metadata fetch.

It runs inside the Python workers of ``fetch_stage``'s ``mapInPandas``, so
it lives in an importable module and holds only plain data. No sleeps; a
seeded ~2% of ids fail on every attempt.
"""

from __future__ import annotations

import datetime as dt
import hashlib


def _h(*parts) -> int:
    return int(hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()[:15], 16)


def fails(seed: int, video_id: str) -> bool:
    return _h(seed, "fail", video_id) % 50 == 0


class FakeFetcher:
    """``fetcher(video_id) -> dict`` of refreshed ``videos`` columns."""

    def __init__(self, seed: int, cycle: int, now: dt.datetime):
        self.seed, self.cycle, self.now = seed, cycle, now

    def __call__(self, video_id: str) -> dict:
        if fails(self.seed, video_id):
            raise ConnectionError(f"fetch of {video_id} failed")
        h = _h(self.seed, self.cycle, video_id)
        return {
            "title": f"Refreshed {video_id} c{self.cycle} v{h % 997}",
            "description": None if h % 7 == 0 else f"description {h % 10007}",
            "channel": None,
            "publish_date": dt.date(2022, 1, 1) + dt.timedelta(days=h % 1000),
            "duration_seconds": 30 + h % 14_000,
            "view_count": None if h % 11 == 0 else h % 10_000_000,
            "author": f"Channel {chr(65 + h % 26)}",
            "channel_id": f"UC{h % 10**22:022d}",
            "thumbnail_url": f"https://i.ytimg.com/vi/{video_id}/hqdefault.jpg",
            "video_url": f"https://www.youtube.com/watch?v={video_id}",
            "last_scraped_timestamp": self.now,
        }
