"""The two workloads: what each pass calls, and how each result is checked.

A workload exposes ``setup()`` (untimed inputs and handles),
``WARMUP_PASSES`` (how many passes run untimed, but checked, before the
timed ones) and ``ops(pass_no)``: the fixed call sequence of one pass as
``Op`` records. The runner times each ``Op.call`` and checks its result with
``Op.check`` outside the timed window; ``after_pass()`` runs a whole-pass
check (the sync model comparison) the same way.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from . import checks, gen
from .fake_fetch import FakeFetcher, fails


@dataclass
class Op:
    name: str
    call: Callable[[], object]
    check: Callable[[object], list[str]] | None = None


def _cols_rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


# ----------------------------------------------------------------------
# browse
# ----------------------------------------------------------------------

class Browse:
    """The reference's browse and search pages: ten ``Archive`` reads per
    pass, each ending in ``collect()``."""

    #: an interactive app serves many requests from one JVM, so its steady
    #: state is what users see. A fresh JVM's first pass pays class loading,
    #: code generation and JIT compilation: 20-30 s against a warm 9-13 s.
    WARMUP_PASSES = 1

    CALLS = (
        "playlist_summary", "playlist_videos", "video", "video_playlists",
        "search_titles", "search_transcripts", "stats", "cross_links",
        "top_channels", "playlist_stats",
    )

    def __init__(self, spark, run_dir: str, seed: int, n_videos: int = 10_000, n_playlists: int = 500):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.n_videos, self.n_playlists = n_videos, n_playlists

    def setup(self) -> None:
        from youtube_scraper_db_spark.archive import Archive

        root = os.path.join(self.run_dir, "archive")
        tables = gen.archive_tables(self.seed, self.n_videos, self.n_playlists)
        gen.write_archive(root, tables)
        self.pids = tables["playlists"].column("playlist_id").to_pylist()
        self.vids = tables["videos"].column("video_id").to_pylist()
        self.archive = Archive(self.spark, root)
        self._root = root
        self._con = None

    def _duck(self):
        if self._con is None:
            self._con = checks.duck_archive(self._root)
        return self._con

    def args(self, pass_no: int) -> dict[str, object]:
        rng = gen.rng_for(self.seed, f"browse-{pass_no}")
        return {
            "playlist_videos": self.pids[int(rng.integers(len(self.pids)))],
            "video": self.vids[int(rng.integers(len(self.vids)))],
            "video_playlists": self.vids[int(rng.integers(len(self.vids)))],
            "search_titles": gen.TERMS[int(rng.integers(len(gen.TERMS)))],
            "search_transcripts": str(rng.choice([t.capitalize() for t in gen.TERMS] + gen.TERMS)),
        }

    def ops(self, pass_no: int) -> list[Op]:
        args = self.args(pass_no)
        out = []
        for call in self.CALLS:
            arg = args.get(call)
            method = getattr(self.archive, call)

            def run(method=method, arg=arg):
                return _cols_rows(method() if arg is None else method(arg))

            def check(res, call=call, arg=arg):
                return checks.check_browse(self._duck(), call, arg, *res)

            out.append(Op(call, run, check))
        return out

    def after_pass(self) -> list[str]:
        return []


# ----------------------------------------------------------------------
# sync
# ----------------------------------------------------------------------

N_REFRESH = 300
N_ATTEMPTED = 20
N_INBOX = 20


class Sync:
    """The scrape/sync ETL: per pass one refresh cycle, its four commits,
    a transcript-inbox ingest, a JSON export and one summary read."""

    #: a scrape/sync run is a one-shot invocation that pays a fresh JVM's
    #: first-use costs every time, so the cold cycle is the one timed.
    WARMUP_PASSES = 0

    def __init__(self, spark, run_dir: str, seed: int, n_videos: int = 10_000, n_playlists: int = 500):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.n_videos, self.n_playlists = n_videos, n_playlists

    def setup(self) -> None:
        from youtube_scraper_db_spark.archive import Archive

        root = os.path.join(self.run_dir, "archive")
        tables = gen.archive_tables(self.seed, self.n_videos, self.n_playlists)
        gen.write_archive(root, tables)
        rows = {name: t.to_pylist() for name, t in tables.items()}
        # generator bodies carry digits only in their timestamp prefixes
        timestamped = {r["video_id"] for r in rows["transcripts"] if any(c.isdigit() for c in r["transcript"][:12])}
        for r in rows["transcripts"]:
            r["md5"] = checks.md5(r.pop("transcript"))
        self.model = checks.SyncModel(rows, timestamped)
        self.archive = Archive(self.spark, root)

    # -- one cycle's seeded inputs ----------------------------------------

    def _snapshot(self, rng, attempted: list[str]) -> dict[str, list[tuple[str, int]]]:
        """Fetched membership of every attempted playlist but the last,
        whose fetch returns nothing: each loses ~20% of its members and
        gains one to three videos at the end."""
        vids = sorted(self.model.videos)
        snap = {}
        for pid in attempted[:-1]:
            cur = self.model.edges.get(pid, {})
            kept = [(v, pos) for v, pos in sorted(cur.items()) if rng.random() >= 0.2]
            pos = max(cur.values(), default=0)
            have = {v for v, _ in kept}
            for _ in range(int(rng.integers(1, 4))):
                v = vids[int(rng.integers(len(vids)))]
                if v not in have:
                    pos += 1
                    kept.append((v, pos))
                    have.add(v)
            snap[pid] = kept
        return snap

    def _inbox(self, rng, cycle: int, inbox_dir: str) -> list[dict]:
        """Twenty transcript files, half timestamped. Some replace stored
        bodies; four give a stored timestamped transcript an un-timestamped
        replacement, which must not win."""
        m = self.model
        with_ts = sorted(v for v, t in m.transcripts.items() if t["timestamped"])
        plain = sorted(v for v, t in m.transcripts.items() if not t["timestamped"])
        bare = sorted(set(m.videos) - set(m.transcripts))
        picks: list[tuple[str, bool]] = []
        used: set[str] = set()

        def take(pool, n, timestamped):
            for i in rng.permutation(len(pool))[: n * 3]:
                if n == 0:
                    break
                v = pool[int(i)]
                if v not in used:
                    used.add(v)
                    picks.append((v, timestamped))
                    n -= 1

        take(with_ts, 4, False)  # must survive
        take(plain, 4, True)
        take(plain, 3, False)
        take(bare, 3, False)
        take(bare, 4, True)
        # the rest are videos new to the archive
        picks += [(f"nv{cycle:03d}{i:03d}xxx", True) for i in range(N_INBOX - len(picks))]

        text = gen._Text(rng, n_words=5_000)
        os.makedirs(inbox_dir)
        files = []
        for i, (vid, timestamped) in enumerate(picks):
            body = text.body(int(rng.integers(300, 3_000)), "bracket" if timestamped else "plain")
            title = None if i % 7 == 3 else f"Inbox {cycle}-{i} {text.words_at(2)[0]}"
            by_url = i % 9 != 5
            url = f"https://www.youtube.com/watch?v={vid}"
            head = [f"TITLE: {title}"] if title else []
            head.append(f"URL: {url}" if by_url else f"ID: {vid}")
            ext = (".txt", ".txt", ".srt", ".vtt")[i % 4]
            with open(os.path.join(inbox_dir, f"{i:02d}_{vid}{ext}"), "w") as f:
                f.write("\n".join(head) + "\n\n" + body)
            files.append({
                "video_id": vid, "title": title or f"Video {vid}", "url": url,
                "body": body, "timestamped": timestamped,
            })
        return files

    def ops(self, cycle: int) -> list[Op]:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        from youtube_scraper_db_spark import schemas
        from youtube_scraper_db_spark.pipelines import fetch_stage, refresh_playlists, stale_work_set

        spark, ar, m = self.spark, self.archive, self.model
        rng = gen.rng_for(self.seed, f"sync-{cycle}")
        now = gen.NOW + dt.timedelta(hours=cycle + 1)
        now_col = F.lit(now)
        expect_ids = m.stale(now, N_REFRESH)
        fetcher = FakeFetcher(self.seed, cycle, now)
        fetched_expect = {v: (None if fails(self.seed, v) else fetcher(v)) for v in expect_ids}
        attempted = sorted(m.playlists)
        attempted = [attempted[int(i)] for i in rng.choice(len(attempted), N_ATTEMPTED, replace=False)]
        snapshot = self._snapshot(rng, attempted)
        cycle_dir = os.path.join(self.run_dir, f"cycle{cycle}")
        inbox_dir, export_dir = os.path.join(cycle_dir, "inbox"), os.path.join(cycle_dir, "export")
        files = self._inbox(rng, cycle, inbox_dir)
        m.apply_refresh(fetched_expect, snapshot, attempted, now)
        m.apply_inbox(files)
        # every field nullable: a failed fetch yields a row of NULLs
        result_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in schemas.VIDEOS.fields if f.name != "video_id"]
        )
        state: dict[str, object] = {}

        def fetch():
            ids = stale_work_set(ar.table("videos"), now_col=now_col).orderBy("video_id").limit(N_REFRESH)
            state["fetched"] = fetch_stage(ids, fetcher, result_schema, max_retries=2).localCheckpoint(eager=True)
            state["membership"] = spark.createDataFrame(
                [(p, v, pos) for p, mem in snapshot.items() for v, pos in mem],
                "playlist_id string, video_id string, position long",
            )
            state["attempted"] = spark.createDataFrame([(p,) for p in attempted], "playlist_id string")
            return state["fetched"]

        def check_fetch(df):
            got = sorted((r["video_id"], r["fetch_ok"]) for r in df.select("video_id", "fetch_ok").collect())
            want = sorted((v, rec is not None) for v, rec in fetched_expect.items())
            return [] if got == want else [f"fetch: work set/outcomes differ ({len(got)} vs {len(want)} ids)"]

        def plan():
            state["res"] = refresh_playlists(
                ar.table("playlists"), ar.table("playlist_videos"), ar.table("videos"),
                ar.table("playlist_pings"), state["membership"], state["fetched"], now_col,
                attempted_playlists=state["attempted"],
            )

        def commit(table, attr):
            return lambda: ar.commit(table, getattr(state["res"], attr))

        def export():
            ar.export_playlists_json(export_dir)

        def check_export(_):
            recs = []
            for name in sorted(os.listdir(export_dir)):
                if name.endswith(".json"):
                    with open(os.path.join(export_dir, name)) as f:
                        recs += [json.loads(line) for line in f if line.strip()]
            return m.check_export(recs)

        self._window = [dt.datetime.now(checks.UTC), None]
        self._cycle_dir = cycle_dir
        return [
            Op("fetch", fetch, check_fetch),
            Op("refresh_plan", plan),
            Op("commit_videos", commit("videos", "videos")),
            Op("commit_playlist_videos", commit("playlist_videos", "playlist_videos")),
            Op("commit_playlists", commit("playlists", "playlists")),
            Op("commit_playlist_pings", commit("playlist_pings", "pings")),
            Op("ingest_inbox", lambda: ar.ingest_transcript_inbox(inbox_dir),
               lambda n: [] if n == len(files) else [f"inbox: ingested {n}, expected {len(files)}"]),
            Op("export_playlists_json", export, check_export),
            Op("playlist_summary", lambda: _cols_rows(ar.playlist_summary()),
               lambda res: m.check_summary(*res)),
        ]

    def after_pass(self) -> list[str]:
        """Compare every committed table with the model, then drop the
        cycle's inbox and export files."""
        self._window[1] = dt.datetime.now(checks.UTC)
        actual = checks.read_committed(self.archive)
        errs = self.model.compare(actual, self._window)
        if errs:  # continue from what the program committed
            self.model = checks.SyncModel(actual, self.model.timestamped())
        shutil.rmtree(self._cycle_dir, ignore_errors=True)
        return errs


WORKLOADS = {"browse": Browse, "sync": Sync}
