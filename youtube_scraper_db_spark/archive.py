"""The user-facing archive API — everything a user of the reference system
does (`display.py` pages, `web_app.py` endpoints, `run_me.py` /
`main_scraper.py` ETL, `add_transcripts.py` inbox, `export_*.py` tools)
behind one handle over a directory of parquet tables.

Storage model: one parquet directory per table under ``root``. Mutations
are whole-table rewrites (the Delta-free MERGE pattern, SURVEY.md §4)
committed via a VERSIONED-DIRECTORY protocol: each commit writes a fresh
``<table>.parquet.v<N>`` directory, then atomically repoints a one-line
``<table>.version`` file (``os.replace`` — atomic on POSIX). A crash at
ANY point before the pointer flip leaves the previous version fully
intact — there is no rename window in which the table doesn't exist (the
flaw of the earlier rename-swap scheme). The previous version directory
is retained until the NEXT commit, giving one-step ``rollback`` — the
Spark analog of the reference's per-file transaction + conn.rollback
(ref add_transcripts.py:199-204, main_scraper.py:169-174). On a real
cluster the same call sites take a Delta/Iceberg commit instead.

Read rule: one DataFrame per table per committed version directory.
``table`` reads the pointer file on every call (so commits made by other
processes and other ``Archive`` handles are seen), then reuses the frame
it built last time if the current version directory is the same
directory: same path, inode and mtime (a deleted directory's inode
number can be reused). Building a frame lists the directory and runs a
schema-inference job over a parquet footer; the ten browse-page reads
make 24 ``table`` calls on tables that do not change between them. The
version number alone is not a safe key: after ``rollback`` the next
commit rewrites the same ``.v<N>`` path, and a frame listed before that
names files that no longer exist.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from . import schemas
from .operators.diffsync import sync_scoped_membership
from .operators.merge import field_update, insert_if_absent, keyed_delete, merge_upsert
from .queries import analytics, catalog, search
from .sinks.export_json import write_playlists_json
from .sinks.render_text import write_transcript_files
from .sources.playlists_json import read_playlists_json
from .sources.transcript_files import read_transcript_files
from .streaming.inbox import transcript_preference_merge
from .streaming.versioned import drop_below


class Archive:
    """A YouTube-archive database on parquet, queried and mutated via Spark."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._frames: dict[str, tuple[tuple, DataFrame]] = {}

    # -- storage ---------------------------------------------------------

    def _base(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    def _version_file(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.version")

    def _version_of(self, table: str) -> int:
        """Committed version number; 0 = the unversioned base directory
        written by ``create`` (or a pre-versioning archive)."""
        try:
            with open(self._version_file(table)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _version_path(self, table: str, version: int) -> str:
        base = self._base(table)
        return base if version == 0 else f"{base}.v{version}"

    def _path(self, table: str) -> str:
        """Data directory of the CURRENT committed version."""
        return self._version_path(table, self._version_of(table))

    @classmethod
    def create(cls, spark: SparkSession, root: str) -> "Archive":
        """Initialize empty tables (ref run_me.py:66-131 ensure_database_ready)."""
        os.makedirs(root, exist_ok=True)
        ar = cls(spark, root)
        for name, schema in schemas.SCHEMAS.items():
            if not os.path.exists(ar._path(name)):
                spark.createDataFrame([], schema).write.parquet(ar._path(name))
        return ar

    def table(self, name: str) -> DataFrame:
        """The current committed version of ``name``, read once per
        version directory (module docstring, "Read rule"). The cache key
        is ``(path, st_ino, st_mtime_ns)`` of that directory; a new key
        replaces the entry, so frames of superseded versions drop out."""
        path = self._path(name)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return self.spark.read.parquet(path)  # raises PATH_NOT_FOUND
        key = (path, st.st_ino, st.st_mtime_ns)
        hit = self._frames.get(name)
        if hit is None or hit[0] != key:
            hit = self._frames[name] = (key, self.spark.read.parquet(path))
        return hit[1]

    def _point(self, name: str, version: int) -> None:
        """Atomically repoint the version file at ``version`` (fsync'd
        temp file + ``os.replace``)."""
        ptr_tmp = self._version_file(name) + ".tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptr_tmp, self._version_file(name))

    def _commit(self, name: str, df: DataFrame) -> None:
        """Commit a whole-table rewrite via versioned-directory swap.

        1. Materialize ``df`` into the NEXT version directory (the plan
           reads the current version's files, which stay untouched).
        2. Atomically repoint the version file (``_point``).
        3. Garbage-collect versions older than the previous one, which
           is kept for ``rollback`` (streaming/versioned.py ``drop_below``).

        A failure in step 1 leaves a partial ``.v<N+1>`` directory and an
        unchanged pointer: readers never see it, and the next commit
        overwrites it. There is no state in which the table is missing or
        half-swapped."""
        cur = self._version_of(name)
        df.write.mode("overwrite").parquet(self._version_path(name, cur + 1))
        self._point(name, cur + 1)
        drop_below(self._base(name) + ".v", cur)
        if cur >= 1:
            shutil.rmtree(self._base(name), ignore_errors=True)

    def rollback(self, name: str) -> None:
        """Repoint ``name`` at the version before the last commit (ref
        conn.rollback, add_transcripts.py:203). One step of history is
        retained; rolling back twice is an error."""
        prev = self._version_of(name) - 1
        if prev < 0 or not os.path.exists(self._version_path(name, prev)):
            raise ValueError(f"no previous version of {name!r} to roll back to")
        self._point(name, prev)

    # -- ingestion (run_me.py / import_playlists.py / add_transcripts.py) -

    def import_playlists_json(self, path: str) -> int:
        """S2+S11: load playlists.json, insert ids not yet present."""
        incoming = read_playlists_json(self.spark, path)
        merged = insert_if_absent(self.table("playlists"), incoming, ["playlist_id"])
        self._commit("playlists", merged)
        return incoming.count()

    def ingest_transcript_inbox(self, inbox_dir: str) -> int:
        """S9 + the §2.11 preference rule: parse header-formatted files,
        upsert the corresponding ``videos`` rows, then merge into
        ``transcripts`` (timestamped stored bodies survive un-timestamped
        replacements).

        The videos write mirrors ref save_to_database
        (add_transcripts.py:144-166): an EXISTING video gets only title /
        video_url / last_scraped_timestamp updated (its scraped metadata
        survives), a NEW video gets a minimal row — without it, ingested
        transcripts would be orphaned and invisible to every
        ``videos``-inner-joining query (search, export). Videos commit
        first so a crash between the two commits never leaves a
        transcript without its video."""
        from pyspark.sql import functions as F

        parsed = read_transcript_files(self.spark, inbox_dir)
        vid_rows = parsed.select(
            "video_id",
            "title",
            F.col("url").alias("video_url"),
            F.current_timestamp().alias("last_scraped_timestamp"),
        ).dropDuplicates(["video_id"])
        videos = self.table("videos")
        updated = field_update(
            videos, vid_rows, ["video_id"],
            ["title", "video_url", "last_scraped_timestamp"],
        )
        self._commit("videos", insert_if_absent(updated, vid_rows, ["video_id"]))

        incoming = parsed.select(
            "video_id",
            F.lit(None).cast("string").alias("language"),
            "transcript",
            F.current_timestamp().alias("last_fetched_timestamp"),
            F.lit(None).cast(schemas.TRANSCRIPT_SEGMENTS).alias("segments"),
        )
        merged = transcript_preference_merge(self.table("transcripts"), incoming)
        self._commit("transcripts", merged)
        return parsed.count()

    # -- mutations (main_scraper.py sync paths) ---------------------------

    def upsert_videos(self, new_videos: DataFrame) -> None:
        """S10: INSERT OR REPLACE refreshed metadata."""
        self._commit("videos", merge_upsert(self.table("videos"), new_videos, ["video_id"]))

    def sync_playlist_membership(self, desired_edges: DataFrame) -> None:
        """J8+S11/S12 scoped to the playlists present in ``desired_edges``."""
        synced = sync_scoped_membership(
            self.table("playlist_videos"),
            desired_edges,
            "playlist_id",
            ["playlist_id", "video_id"],
        )
        self._commit("playlist_videos", synced)

    def remove_video_from_playlists(self, video_id: str, playlist_ids: list[str]) -> None:
        """S12 (ref display.py:692-699 Cross-Links delete)."""
        tombs = self.spark.createDataFrame(
            [(p, video_id) for p in playlist_ids], "playlist_id string, video_id string"
        )
        self._commit(
            "playlist_videos",
            keyed_delete(self.table("playlist_videos"), tombs, ["playlist_id", "video_id"]),
        )

    def update_playlist_counts(self) -> None:
        """A9+S13: recompute item_count per playlist from the edge table."""
        from pyspark.sql import functions as F

        counts = (
            self.table("playlist_videos")
            .groupBy("playlist_id")
            .agg(F.countDistinct("video_id").alias("item_count"))
            .withColumn("last_updated", F.current_timestamp())
        )
        self._commit(
            "playlists",
            field_update(
                self.table("playlists"), counts, ["playlist_id"], ["item_count", "last_updated"]
            ),
        )

    # -- query surface (display.py / gui_app.py / web_app.py) -------------

    def playlist_summary(self) -> DataFrame:
        return catalog.playlist_summary(self.table("playlists"), self.table("playlist_videos"))

    def playlist_videos(self, playlist_id: str) -> DataFrame:
        return catalog.playlist_videos_with_flags(
            self.table("playlist_videos"), self.table("videos"),
            self.table("transcripts"), playlist_id,
        )

    def video(self, video_id: str) -> DataFrame:
        return catalog.video_detail(self.table("videos"), self.table("transcripts"), video_id)

    def video_playlists(self, video_id: str) -> DataFrame:
        return catalog.video_playlists(
            self.table("playlists"), self.table("playlist_videos"), video_id
        )

    def stats(self) -> DataFrame:
        return analytics.summary_stats(
            self.table("playlists"), self.table("videos"),
            self.table("transcripts"), self.table("playlist_videos"),
        )

    def cross_links(self, approx: bool = False) -> DataFrame:
        return analytics.cross_linked_videos(
            self.table("playlist_videos"), self.table("videos"), approx
        )

    def top_channels(self, k: int = 5) -> DataFrame:
        return analytics.top_channels(self.table("videos"), k)

    def playlist_stats(self) -> DataFrame:
        return analytics.per_playlist_stats(
            self.table("playlists"), self.table("playlist_videos"), self.table("videos")
        )

    def search_titles(self, query: str, limit: int = 100) -> DataFrame:
        return search.search_titles(
            self.table("videos"), self.table("playlist_videos"),
            self.table("playlists"), query, limit,
        )

    def search_transcripts(self, query: str, limit: int = 50) -> DataFrame:
        return search.search_transcripts(
            self.table("transcripts"), self.table("videos"), query, limit
        )

    # -- exports (export_*.py) --------------------------------------------

    def export_playlists_json(self, path: str) -> None:
        write_playlists_json(self.table("playlists"), self.table("playlist_videos"), path)

    def export_transcript_files(self, out_dir: str) -> int:
        from pyspark.sql import functions as F

        joined = (
            self.table("videos")
            .join(self.table("transcripts"), "video_id")
            .filter(F.col("transcript").isNotNull() & (F.col("transcript") != ""))
        )
        return write_transcript_files(joined, out_dir)

    # -- ad-hoc SQL --------------------------------------------------------

    def sql(self, query: str) -> DataFrame:
        """Run ad-hoc Spark SQL with every archive table registered as a
        temp view (the reference's database is an open SQLite file any
        user can point sqlite3 at; this is that capability on the Spark
        engine). Each call re-registers every view on the table's CURRENT
        committed version (``table`` re-reads the pointer file), so a
        query never reads a version older than the last commit before
        the call."""
        for name in schemas.SCHEMAS:
            self.table(name).createOrReplaceTempView(name)
        return self.spark.sql(query)

    # -- maintenance ------------------------------------------------------

    def commit(self, name: str, df: DataFrame) -> int:
        """Commit a whole-table rewrite of any table (versioned swap,
        rollback-able) and return the committed version number. The
        public entry point for tables outside the reference's fixed
        schema set — e.g. a trained tokenizer artifact (BPE/WordPiece
        merges, a unigram vocabulary), reloaded by ``table(name)`` to
        tokenize next month's corpus. Maintenance ops (``compact``,
        ``rollback``) work on them identically. Names must not collide
        with the schema tables (they share the root directory)."""
        self._commit(name, df)
        return self._version_of(name)

    def compact(self, name: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Small-file compaction — rewrite ``name`` into files sized for
        scan efficiency, committed like any other mutation (versioned,
        rollback-able).

        Incremental merges (upserts landing a few rows at a time, stream
        sinks flushing per micro-batch) accrete files far below the scan
        split size; at cluster scale the job then pays one task — and one
        namenode/objectstore round-trip — per tiny file. Compaction is
        the standing maintenance op every table format ships (the
        reference never needs it only because SQLite is a single file).

        File count = ceil(current_bytes / target_file_bytes), measured
        from the committed version's footprint on disk, never from a
        driver-side collect. Returns the new file count."""
        src = self._path(name)
        total = 0
        for dirpath, _dirnames, filenames in os.walk(src):
            for f in filenames:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(dirpath, f))
        n_files = max(1, -(-total // target_file_bytes))
        # coalesce, not repartition: compaction must not pay a shuffle —
        # it only narrows parallelism for the write.
        self._commit(name, self.table(name).coalesce(n_files))
        return n_files
