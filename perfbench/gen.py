"""Seeded input generation, written straight to parquet with pyarrow.

Everything here is a pure function of the seed, so two runs with the same
``--seed`` see byte-identical inputs. Nothing goes through Spark: building
the tables from Python rows with ``spark.createDataFrame`` costs ~30 s at
10k videos, which would swamp the set-up time the benchmark reports.

The input is a YouTube archive (playlists, videos, playlist_videos,
transcripts, playlist_pings, processed_playlists) shaped per FIXTURES.md,
written as the unversioned base directories an ``Archive`` opens.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
#: the archive's "now": staleness and every generated timestamp are
#: relative to it, so inputs do not depend on the wall clock.
NOW = dt.datetime(2025, 6, 1, 12, 0, 0, tzinfo=UTC)

ID_CHARS = np.array(list(string.ascii_letters + string.digits + "_-"))
#: searchable keywords embedded in titles and transcripts (FIXTURES.md:
#: "embed searchable keywords in a known subset").
TERMS = ["spark", "sql", "python", "tutorial", "review", "guide", "live", "remix"]
FILLER = (
    "the a of and to in is it you that he was for on are with as his they be at "
    "one have this from or had by word but what some we can out other were all "
    "there when up use your how said an each she which do their time if will way "
    "about many then them write would like so these her long make thing see him "
    "two has look more day could go come did number sound no most people my over "
    "know water than call first who may down side been now find any new work part "
    "take get place made live where after back little only round man year came "
    "show every good me give our under name very through just form sentence great "
    "think say help low line differ turn cause much mean before move right boy old "
    "too same tell does set three want air well also play small end put home read "
    "hand port large spell add even land here must big high such follow act why ask"
).split()
PLAYLIST_WORDS = [
    "Claude4", "DeepSeek", "Deepseek", "Manus (Monica ai)", "#2025-05-12", ".old",
    "Agents", "agents", "Music", "Lectures", "Talks", "Watch later", "Spark tips",
    "SQL", "Python", "Favourites", "_drafts", "Zen", "zen", "Ambient",
]
AUTHORS = [f"Channel {c}" for c in string.ascii_uppercase] + [
    "channel a", "Ångström Labs", "42 Studio", "zzz"
]
STATUSES = ["started", "completed", "failed_fetch", "sync_failed"]

TS = pa.timestamp("us", tz="UTC")
SEGMENTS = pa.list_(pa.struct([("start", pa.float64()), ("text", pa.string())]))
ARROW_SCHEMAS = {
    "playlists": pa.schema([
        ("playlist_id", pa.string()), ("title", pa.string()), ("url", pa.string()),
        ("item_count", pa.int64()), ("last_updated", TS),
    ]),
    "videos": pa.schema([
        ("video_id", pa.string()), ("title", pa.string()), ("description", pa.string()),
        ("channel", pa.string()), ("publish_date", pa.date32()),
        ("duration_seconds", pa.int64()), ("view_count", pa.int64()),
        ("author", pa.string()), ("channel_id", pa.string()),
        ("thumbnail_url", pa.string()), ("video_url", pa.string()),
        ("last_scraped_timestamp", TS),
    ]),
    "playlist_videos": pa.schema([
        ("playlist_id", pa.string()), ("video_id", pa.string()), ("position", pa.int64()),
    ]),
    "transcripts": pa.schema([
        ("video_id", pa.string()), ("language", pa.string()), ("transcript", pa.string()),
        ("last_fetched_timestamp", TS), ("segments", SEGMENTS),
    ]),
    "playlist_pings": pa.schema([
        ("ping_id", pa.int64()), ("playlist_id", pa.string()),
        ("pinged_timestamp", TS), ("status", pa.string()),
    ]),
    "processed_playlists": pa.schema([
        ("playlist_url", pa.string()), ("processed_at", TS),
    ]),
}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts the values another stream draws."""
    return np.random.default_rng([seed, sum(ord(c) * 131 ** i for i, c in enumerate(stream)) % 2**32])


def _ids(rng: np.random.Generator, n: int, length: int, prefix: str = "") -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        for row in rng.choice(ID_CHARS, size=(n, length)):
            s = prefix + "".join(row)
            if s not in seen:
                seen.add(s)
                out.append(s)
                if len(out) == n:
                    break
    return out


def _ago(days: float) -> dt.datetime:
    return (NOW - dt.timedelta(days=float(days))).replace(microsecond=0)


def _mmss(sec: int) -> str:
    return f"{sec // 60:02d}:{sec % 60:02d}"


class _Text:
    """Cheap seeded prose: slices of one pre-drawn word stream, with the
    search terms (some capitalised) mixed in at known rates."""

    def __init__(self, rng: np.random.Generator, n_words: int = 60_000):
        vocab = FILLER + TERMS + [t.capitalize() for t in TERMS]
        weights = np.array([1.0] * len(FILLER) + [0.12] * len(TERMS) + [0.04] * len(TERMS))
        idx = rng.choice(len(vocab), size=n_words, p=weights / weights.sum())
        self.words = [vocab[i] for i in idx]
        self.r = random.Random(int(rng.integers(2**63)))  # fast scalar draws

    def words_at(self, n: int) -> list[str]:
        start = self.r.randrange(len(self.words) - n)
        return self.words[start:start + n]

    def body(self, n_bytes: int, style: str) -> str:
        words = self.words_at(min(max(8, n_bytes // 5), len(self.words) - 1))
        if style == "plain":
            return " ".join(words)
        lines, sec = [], self.r.randrange(30)
        for i in range(0, len(words), 12):
            chunk = " ".join(words[i:i + 12])
            if style == "bracket":
                lines.append(f"[{_mmss(sec)}] {chunk}")
            elif style == "angle":
                lines.append(f"<{_mmss(sec)}> {chunk}")
            else:  # "dash"
                lines.append(f"{_mmss(sec)} - {chunk}")
            sec += self.r.randrange(3, 20)
        return "\n".join(lines)


def archive_tables(seed: int, n_videos: int = 10_000, n_playlists: int = 500) -> dict[str, pa.Table]:
    """The archive as Arrow tables, shaped per FIXTURES.md."""
    rng = rng_for(seed, "archive")
    text = _Text(rng_for(seed, "archive-text"))

    # -- playlists ------------------------------------------------------
    pids = _ids(rng, n_playlists, 32, "PL")
    base = rng.choice(len(PLAYLIST_WORDS), size=n_playlists)
    pr = rng.random((n_playlists, 2))
    p_titles = [
        "" if pr[i, 0] < 0.02 else PLAYLIST_WORDS[b] if pr[i, 1] < 0.5 else f"{PLAYLIST_WORDS[b]} {i}"
        for i, b in enumerate(base)
    ]
    n_empty = max(1, n_playlists // 20)
    filled = np.arange(n_empty, n_playlists)  # the first n_empty stay empty

    # -- videos ---------------------------------------------------------
    vids = _ids(rng, n_videos, 11)
    r = rng.random((n_videos, 8))
    zipf = 1.0 / np.arange(1, len(AUTHORS) + 1)
    authors = rng.choice(len(AUTHORS), size=n_videos, p=zipf / zipf.sum())
    title_len = rng.integers(3, 9, n_videos)
    stale_days, fresh_days = rng.uniform(8, 90, n_videos), rng.uniform(0, 6.5, n_videos)
    pub_days = rng.integers(0, 3 * 365, n_videos)
    durations = rng.integers(30, 14_401, n_videos)
    views = (10 ** rng.uniform(0, 7, n_videos)).astype(np.int64)
    scraped = [
        None if r[i, 0] < 0.10 else _ago(stale_days[i]) if r[i, 0] < 0.50 else _ago(fresh_days[i])
        for i in range(n_videos)
    ]
    videos = {
        "video_id": vids,
        "title": [" ".join(text.words_at(int(title_len[i]))).capitalize() + f" #{i}" for i in range(n_videos)],
        "description": [None if r[i, 1] < 0.15 else " ".join(text.words_at(30)) for i in range(n_videos)],
        "channel": [None if r[i, 2] < 0.95 else AUTHORS[authors[i]] for i in range(n_videos)],
        "publish_date": [
            None if r[i, 3] < 0.10 else (NOW - dt.timedelta(days=int(pub_days[i]))).date()
            for i in range(n_videos)
        ],
        "duration_seconds": [None if r[i, 4] < 0.05 else int(durations[i]) for i in range(n_videos)],
        "view_count": [None if r[i, 5] < 0.10 else int(views[i]) for i in range(n_videos)],
        "author": [None if r[i, 6] < 0.05 else AUTHORS[authors[i]] for i in range(n_videos)],
        "channel_id": _ids(rng, n_videos, 22, "UC"),
        "thumbnail_url": [f"https://i.ytimg.com/vi/{v}/hqdefault.jpg" for v in vids],
        "video_url": [f"https://www.youtube.com/watch?v={v}" for v in vids],
        "last_scraped_timestamp": scraped,
    }

    # -- playlist_videos: ~10% orphans, ~20% in 2+ playlists, a few in 5+
    k = rng.choice([0, 1, 2, 3, 4, 5, 6], size=n_videos, p=[0.10, 0.70, 0.10, 0.05, 0.03, 0.01, 0.01])
    members: dict[int, list[int]] = {}
    for vi in np.flatnonzero(k):
        for p in rng.choice(filled, size=int(k[vi]), replace=False):
            members.setdefault(int(p), []).append(int(vi))
    pv_p, pv_v, pv_pos = [], [], []
    for p in sorted(members):
        for pos, vi in enumerate(rng.permutation(members[p]), start=1):
            pv_p.append(pids[p])
            pv_v.append(vids[vi])
            pv_pos.append(pos)
    counts = {p: len(v) for p, v in members.items()}
    pr = rng.random((n_playlists, 2))
    playlists = {
        "playlist_id": pids,
        "title": p_titles,
        "url": [f"https://www.youtube.com/playlist?list={p}" for p in pids],
        "item_count": [None if pr[i, 0] < 0.2 else counts.get(i, 0) for i in range(n_playlists)],
        "last_updated": [_ago(60 * pr[i, 1]) for i in range(n_playlists)],
    }

    # -- transcripts: ~half the videos, 1-10 KB, ~30% timestamped -------
    has_t = np.flatnonzero(rng.random(n_videos) < 0.5)
    n_t = len(has_t)
    tr = rng.random((n_t, 3))
    sizes = rng.integers(1_000, 10_001, n_t)
    langs = rng.choice(["en", "en-US", "de", "es"], size=n_t, p=[0.85, 0.05, 0.05, 0.05])
    t_rows = {k: [] for k in ARROW_SCHEMAS["transcripts"].names}
    for j, vi in enumerate(has_t):
        u = tr[j, 0]
        style = "plain" if u < 0.70 else "bracket" if u < 0.94 else "angle" if u < 0.97 else "dash"
        body = "" if tr[j, 1] < 0.01 else text.body(int(sizes[j]), style)
        segs = None
        if tr[j, 2] < 0.05:
            segs = [{"start": float(s * 4.5), "text": w} for s, w in enumerate(text.words_at(3))]
        t_rows["video_id"].append(vids[vi])
        t_rows["language"].append(str(langs[j]))
        t_rows["transcript"].append(body)
        t_rows["last_fetched_timestamp"].append(scraped[vi])
        t_rows["segments"].append(segs)

    # -- playlist_pings: ids increasing with gaps -----------------------
    pinged = rng.choice(n_playlists, size=n_playlists // 2, replace=False)
    gaps = rng.integers(1, 4, len(pinged))
    pings = {
        "ping_id": [int(x) for x in np.cumsum(gaps)],
        "playlist_id": [pids[p] for p in pinged],
        "pinged_timestamp": [_ago(d) for d in rng.uniform(0, 60, len(pinged))],
        "status": [STATUSES[i] for i in rng.integers(0, 4, len(pinged))],
    }
    n_proc = len(range(0, n_playlists, 10))
    processed = {
        "playlist_url": [playlists["url"][i] for i in range(0, n_playlists, 10)],
        "processed_at": [_ago(d) for d in rng.uniform(0, 60, n_proc)],
    }
    data = {
        "playlists": playlists,
        "videos": videos,
        "playlist_videos": {"playlist_id": pv_p, "video_id": pv_v, "position": pv_pos},
        "transcripts": t_rows,
        "playlist_pings": pings,
        "processed_playlists": processed,
    }
    return {name: pa.table(cols, schema=ARROW_SCHEMAS[name]) for name, cols in data.items()}


def write_archive(root: str, tables: dict[str, pa.Table]) -> None:
    """Write the base (version 0) directory of every archive table."""
    for name, table in tables.items():
        d = os.path.join(root, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
