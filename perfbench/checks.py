"""Result checkers, computed apart from the program.

* browse — every archive read is recomputed by DuckDB over the parquet
  files the generator wrote. Row sets must be equal; order is checked on
  the sort keys only, since rows that tie on them have no defined order.
* sync — a plain-Python model of the archive tables (``SyncModel``) is
  advanced by each cycle's inputs and compared with what was committed.

Every checker returns a list of error strings; empty means correct.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
from urllib.parse import unquote, urlparse

UTC = dt.timezone.utc


# ----------------------------------------------------------------------
# canonicalization
# ----------------------------------------------------------------------

def canon_cell(v) -> str:
    """One cell as a comparable string (floats via repr, timestamps as
    naive UTC, NULL as a sentinel, nested values recursively)."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(UTC).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(canon_cell(x) for x in v.values()) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (a struct value)
        return "{" + ",".join(canon_cell(x) for x in v) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order, each cell canonicalized, sorted:
    the order-insensitive form ``tools/check_oracle.py`` compares."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def compare_sets(what: str, cols_a, rows_a, cols_b, rows_b) -> list[str]:
    """Program rows ``a`` against reference rows ``b`` as multisets."""
    if sorted(cols_a) != sorted(cols_b):
        return [f"{what}: columns {sorted(cols_a)} != expected {sorted(cols_b)}"]
    if len(rows_a) != len(rows_b):
        return [f"{what}: {len(rows_a)} rows, expected {len(rows_b)}"]
    ca, cb = canon_rows(cols_a, rows_a), canon_rows(cols_b, rows_b)
    if ca != cb:
        bad = [(x, y) for x, y in zip(ca, cb) if x != y][:2]
        return [f"{what}: values differ, first: {bad}"]
    return []


def check_sorted(what: str, rows: list[dict], key) -> list[str]:
    """Consecutive rows must not decrease under ``key`` (ties allowed)."""
    for i in range(1, len(rows)):
        if key(rows[i - 1]) > key(rows[i]):
            return [f"{what}: rows {i - 1} and {i} out of sort-key order"]
    return []


def desc_nulls_last(v):
    """Ascending sort key equivalent to ``v DESC NULLS LAST``."""
    if v is None:
        return (1, 0)
    if isinstance(v, dt.datetime):
        return (0, -v.timestamp())
    if isinstance(v, dt.date):
        return (0, -v.toordinal())
    return (0, -v)


# ----------------------------------------------------------------------
# browse: DuckDB twins over the generated parquet files
# ----------------------------------------------------------------------

def duck_archive(root: str):
    """A DuckDB connection with one view per archive table, reading the
    parquet files exactly as written by the generator."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for name in ("playlists", "videos", "playlist_videos", "transcripts"):
        path = os.path.join(root, f"{name}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def fmt_duration(s):
    """Reference rendering of a duration (display.py:195-207)."""
    if s is None:
        return "Unknown"
    h, rest = divmod(s, 3600)
    m, sec = divmod(rest, 60)
    parts = []
    if h > 0:
        parts.append(f"{h}h")
    if h > 0 or m > 0:
        parts.append(f"{m}m")
    parts.append(f"{sec}s")
    return " ".join(parts)


def _q(con, sql: str, params=()) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql, list(params))
    return [d[0] for d in res.description], res.fetchall()


def _like(term: str) -> str:
    return "%" + term.lower().replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_") + "%"


def browse_expected(con, call: str, arg) -> tuple[list[str], list[tuple]]:
    """The reference answer of one browse call, from DuckDB."""
    if call == "playlist_summary":
        return _q(con, """
            SELECT p.playlist_id, p.title, count(pv.video_id) AS video_count
            FROM playlists p LEFT JOIN playlist_videos pv USING (playlist_id)
            GROUP BY p.playlist_id, p.title""")
    if call == "playlist_videos":
        cols, rows = _q(con, """
            SELECT v.*, pv.playlist_id, pv.position,
                   CASE WHEN EXISTS (SELECT 1 FROM transcripts t
                                     WHERE t.video_id = v.video_id
                                       AND t.transcript IS NOT NULL AND t.transcript <> '')
                        THEN 1 ELSE 0 END AS has_transcript
            FROM playlist_videos pv JOIN videos v USING (video_id)
            WHERE pv.playlist_id = ?""", [arg])
        i = cols.index("duration_seconds")
        return cols + ["duration_display"], [r + (fmt_duration(r[i]),) for r in rows]
    if call == "video":
        return _q(con, """
            SELECT v.*, t.language, t.transcript, t.last_fetched_timestamp, t.segments
            FROM videos v LEFT JOIN transcripts t USING (video_id)
            WHERE v.video_id = ?""", [arg])
    if call == "video_playlists":
        return _q(con, """
            SELECT pv.playlist_id, p.title, pv.position
            FROM playlist_videos pv JOIN playlists p USING (playlist_id)
            WHERE pv.video_id = ?""", [arg])
    if call == "search_titles":
        return _q(con, """
            SELECT v.video_id, v.title, v.publish_date, v.author,
                   min(p.title) AS playlist_title
            FROM videos v
            LEFT JOIN playlist_videos pv USING (video_id)
            LEFT JOIN playlists p ON p.playlist_id = pv.playlist_id
            WHERE lower(v.title) LIKE ? ESCAPE '\\'
            GROUP BY v.video_id, v.title, v.publish_date, v.author
            ORDER BY v.publish_date DESC NULLS LAST, v.video_id
            LIMIT 100""", [_like(arg)])
    if call == "search_transcripts":
        return _q(con, """
            SELECT t.video_id, v.title, v.publish_date, v.author, t.transcript
            FROM transcripts t JOIN videos v USING (video_id)
            WHERE lower(t.transcript) LIKE ? ESCAPE '\\'
            ORDER BY v.publish_date DESC NULLS LAST, t.video_id
            LIMIT 50""", [_like(arg)])
    if call == "stats":
        return _q(con, """
            SELECT (SELECT count(*) FROM videos) AS total_videos,
                   (SELECT max(last_scraped_timestamp) FROM videos) AS last_update,
                   (SELECT count(*) FROM playlists) AS total_playlists,
                   (SELECT count(*) FROM transcripts) AS total_transcripts,
                   (SELECT count(*) FROM (SELECT video_id FROM playlist_videos
                     GROUP BY video_id HAVING count(DISTINCT playlist_id) > 1))
                     AS cross_linked_videos""")
    if call == "cross_links":
        return _q(con, """
            SELECT c.video_id, c.playlist_count, v.title
            FROM (SELECT video_id, count(DISTINCT playlist_id) AS playlist_count
                  FROM playlist_videos GROUP BY video_id
                  HAVING count(DISTINCT playlist_id) > 1) c
            JOIN videos v USING (video_id)""")
    if call == "top_channels":
        return _q(con, """
            SELECT author, count(*) AS video_count FROM videos
            WHERE author IS NOT NULL GROUP BY author
            ORDER BY video_count DESC, author LIMIT 5""")
    if call == "playlist_stats":
        return _q(con, """
            SELECT p.*, coalesce(s.song_count, 0) AS song_count,
                   s.date_created, s.date_updated
            FROM playlists p LEFT JOIN (
              SELECT pv.playlist_id, count(pv.video_id) AS song_count,
                     min(v.publish_date) AS date_created,
                     max(v.last_scraped_timestamp) AS date_updated
              FROM playlist_videos pv JOIN videos v USING (video_id)
              GROUP BY pv.playlist_id) s USING (playlist_id)""")
    raise KeyError(call)


def _lower(s):
    return "" if s is None else s.lower()


#: sort keys of each call, as a function of a row dict (None = the
#: reference result is an exact sequence: the keys give a total order).
BROWSE_ORDER = {
    "playlist_summary": lambda r: (-r["video_count"], _lower(r["title"])),
    "playlist_videos": lambda r: desc_nulls_last(r["publish_date"]),
    "video": lambda r: 0,
    "video_playlists": lambda r: _lower(r["title"]),
    "stats": lambda r: 0,
    "cross_links": lambda r: (-r["playlist_count"], _lower(r["title"])),
    "playlist_stats": lambda r: _lower(r["title"]),
}
EXACT_SEQUENCE = {"search_titles", "search_transcripts", "top_channels"}


def check_browse(con, call: str, arg, cols: list[str], rows: list[tuple]) -> list[str]:
    """Check one browse call's collected ``rows`` (columns ``cols``)."""
    what = f"{call}({arg!r})" if arg is not None else call
    ecols, erows = browse_expected(con, call, arg)
    if call == "search_transcripts":
        return _check_search_transcripts(what, arg, cols, rows, ecols, erows)
    errs = compare_sets(what, cols, rows, ecols, erows)
    if errs:
        return errs
    dicts = [dict(zip(cols, r)) for r in rows]
    if call in EXACT_SEQUENCE:
        edicts = [dict(zip(ecols, r)) for r in erows]
        got = [canon_rows(cols, [tuple(d[c] for c in cols)]) for d in dicts]
        exp = [canon_rows(cols, [tuple(d[c] for c in cols)]) for d in edicts]
        return [] if got == exp else [f"{what}: rows in wrong order"]
    return check_sorted(what, dicts, BROWSE_ORDER[call])


def _check_search_transcripts(what, term, cols, rows, ecols, erows) -> list[str]:
    keep = ["video_id", "title", "publish_date", "author"]
    want = {"snippet", "snippet_highlighted", *keep}
    if set(cols) != want:
        return [f"{what}: columns {sorted(cols)} != expected {sorted(want)}"]
    got = [dict(zip(cols, r)) for r in rows]
    exp = [dict(zip(ecols, r)) for r in erows]
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, expected {len(exp)}"]
    for i, (g, e) in enumerate(zip(got, exp)):
        if [canon_cell(g[c]) for c in keep] != [canon_cell(e[c]) for c in keep]:
            return [f"{what}: row {i} is {g['video_id']}, expected {e['video_id']}"]
        snip = g["snippet"] or ""
        if term.lower() not in snip.lower():
            return [f"{what}: row {i} snippet lacks the term"]
        if snip not in e["transcript"]:
            return [f"{what}: row {i} snippet is not a slice of the transcript"]
        if g["snippet_highlighted"] != snip.replace(term, f"**{term}**"):
            return [f"{what}: row {i} highlight differs"]
    return []


# ----------------------------------------------------------------------
# sync: the plain-Python model
# ----------------------------------------------------------------------

#: marks a timestamp the program sets from its own clock
#: (``current_timestamp()`` in the inbox ingest): checked to lie inside
#: the cycle's wall-clock window instead of compared for equality.
WALL = "wall-clock"


def md5(s: str | None) -> str | None:
    return None if s is None else hashlib.md5(s.encode("utf-8")).hexdigest()


def read_committed(archive) -> dict[str, list[dict]]:
    """The committed tables as row dicts, read by DuckDB from the parquet
    files behind ``archive.table(name)`` (transcript bodies as md5)."""
    import duckdb

    con = duckdb.connect()
    out = {}
    for name in ("videos", "playlist_videos", "playlists", "playlist_pings", "transcripts"):
        files = [unquote(urlparse(f).path) for f in archive.table(name).inputFiles()]
        cols = ("video_id, language, md5(transcript) AS md5, last_fetched_timestamp, segments"
                if name == "transcripts" else "*")
        res = con.execute(f"SELECT {cols} FROM read_parquet(?)", [list(files)])
        names = [d[0] for d in res.description]
        out[name] = [{k: _utc(v) for k, v in zip(names, r)} for r in res.fetchall()]
    return out


def _utc(v):
    """Timestamps as aware UTC datetimes, whichever parquet encoding the
    program wrote (INT96 reads back naive)."""
    if isinstance(v, dt.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=UTC)
    return v


class SyncModel:
    """The expected archive state, as Python dicts keyed like the tables."""

    VIDEO_COLS = (
        "title", "description", "channel", "publish_date", "duration_seconds",
        "view_count", "author", "channel_id", "thumbnail_url", "video_url",
        "last_scraped_timestamp",
    )

    def __init__(self, rows: dict[str, list[dict]], timestamped: set[str]):
        """``rows``: table -> row dicts, transcripts with an ``md5`` of the
        body in place of the body; ``timestamped``: ids of the stored
        transcripts that carry timestamps."""
        self.videos = {r["video_id"]: {c: r[c] for c in self.VIDEO_COLS} for r in rows["videos"]}
        self.playlists = {r["playlist_id"]: dict(r) for r in rows["playlists"]}
        self.edges: dict[str, dict[str, int]] = {p: {} for p in self.playlists}
        for r in rows["playlist_videos"]:
            self.edges.setdefault(r["playlist_id"], {})[r["video_id"]] = r["position"]
        self.pings = {r["ping_id"]: dict(r) for r in rows["playlist_pings"]}
        self.transcripts = {
            r["video_id"]: {
                "language": r["language"], "md5": r["md5"],
                "last_fetched_timestamp": r["last_fetched_timestamp"],
                "segments": r["segments"], "timestamped": r["video_id"] in timestamped,
            }
            for r in rows["transcripts"]
        }
        self.expected_pings: dict[str, str] = {}
        self.ping_now = None

    def timestamped(self) -> set[str]:
        return {v for v, t in self.transcripts.items() if t["timestamped"]}

    # -- expectations for one cycle's inputs ------------------------------

    def stale(self, now: dt.datetime, limit: int) -> list[str]:
        cutoff = now - dt.timedelta(days=7)
        due = [
            v for v, r in self.videos.items()
            if r["last_scraped_timestamp"] is None
            or (r["last_scraped_timestamp"] != WALL and r["last_scraped_timestamp"] <= cutoff)
        ]
        return sorted(due)[:limit]

    def apply_refresh(self, fetched: dict[str, dict | None], snapshot: dict[str, list[tuple[str, int]]],
                      attempted: list[str], now: dt.datetime) -> None:
        for vid, rec in fetched.items():
            if rec is not None:
                self.videos[vid] = {c: rec.get(c) for c in self.VIDEO_COLS}
        for pid, members in snapshot.items():
            # membership follows the snapshot; a member already stored keeps
            # its stored position (insert-if-absent, ref main_scraper.py:161)
            old = self.edges.get(pid, {})
            self.edges[pid] = {v: old.get(v, pos) for v, pos in members}
            self.playlists[pid]["item_count"] = len({v for v, _ in members})
            self.playlists[pid]["last_updated"] = now
        self.expected_pings = {
            pid: ("completed" if snapshot.get(pid) else "failed_fetch") for pid in attempted
        }
        self.ping_now = now

    def apply_inbox(self, files: list[dict]) -> None:
        for f in files:
            vid = f["video_id"]
            row = self.videos.get(vid) or {c: None for c in self.VIDEO_COLS}
            row.update(title=f["title"], video_url=f["url"], last_scraped_timestamp=WALL)
            self.videos[vid] = row
            old = self.transcripts.get(vid)
            if old is not None and old["timestamped"] and not f["timestamped"]:
                continue
            self.transcripts[vid] = {
                "language": None, "md5": md5(f["body"]), "last_fetched_timestamp": WALL,
                "segments": None, "timestamped": f["timestamped"],
            }

    # -- comparison ---------------------------------------------------------

    @staticmethod
    def _ts_ok(expected, got, window) -> bool:
        if expected == WALL:
            if got is None:
                return False
            g = got if got.tzinfo else got.replace(tzinfo=UTC)
            return window[0] - dt.timedelta(seconds=2) <= g <= window[1] + dt.timedelta(seconds=2)
        return canon_cell(expected) == canon_cell(got)

    def compare(self, actual: dict[str, list[dict]], window) -> list[str]:
        """Compare committed tables (``actual``: table -> row dicts) with the
        model. ``window`` bounds the wall-clock timestamps. Adopts the
        program's new ping ids (unknown in advance) once checked."""
        errs: list[str] = []
        vids = [r["video_id"] for r in actual["videos"]]
        if len(vids) != len(set(vids)):
            errs.append("videos: video_id is not unique")
        got_v = {r["video_id"]: r for r in actual["videos"]}
        if set(got_v) != set(self.videos):
            errs.append(f"videos: {len(set(got_v) ^ set(self.videos))} ids differ from the model")
        for vid, exp in self.videos.items():
            got = got_v.get(vid)
            if got is None:
                continue
            for c in self.VIDEO_COLS:
                if c == "last_scraped_timestamp":
                    ok = self._ts_ok(exp[c], got[c], window)
                    if ok and exp[c] == WALL:
                        exp[c] = got[c]  # adopt the program's clock reading
                else:
                    ok = canon_cell(exp[c]) == canon_cell(got[c])
                if not ok:
                    errs.append(f"videos[{vid}].{c}: {got[c]!r} != expected {exp[c]!r}")
                    break
            if len(errs) > 5:
                return errs

        got_e: dict[str, dict[str, int]] = {}
        for r in actual["playlist_videos"]:
            d = got_e.setdefault(r["playlist_id"], {})
            if r["video_id"] in d:
                errs.append(f"playlist_videos: duplicate edge {r['playlist_id']}/{r['video_id']}")
            d[r["video_id"]] = r["position"]
        for pid in set(got_e) | {p for p, m in self.edges.items() if m}:
            got, want = got_e.get(pid, {}), self.edges.get(pid, {})
            if got != want:
                diff = sorted(set(got.items()) ^ set(want.items()))[:4]
                errs.append(f"playlist_videos[{pid}]: members differ from the model: {diff}")
                break

        got_p = {r["playlist_id"]: r for r in actual["playlists"]}
        if set(got_p) != set(self.playlists):
            errs.append("playlists: ids differ from the model")
        for pid, exp in self.playlists.items():
            got = got_p.get(pid)
            if got is not None and any(canon_cell(exp[c]) != canon_cell(got[c]) for c in exp):
                errs.append(f"playlists[{pid}]: {got} != expected {exp}")
                break

        got_pings = {}
        for r in actual["playlist_pings"]:
            if r["ping_id"] in got_pings:
                errs.append(f"playlist_pings: duplicate ping_id {r['ping_id']}")
            got_pings[r["ping_id"]] = r
        old_max = max(self.pings, default=0)
        for pid_, exp in self.pings.items():
            got = got_pings.get(pid_)
            if got is None or any(canon_cell(got[c]) != canon_cell(v) for c, v in exp.items()):
                errs.append(f"playlist_pings: stored ping {pid_} changed or lost")
                break
        new = [r for k, r in got_pings.items() if k not in self.pings]
        expected = self.expected_pings
        if any(r["ping_id"] <= old_max for r in new):
            errs.append("playlist_pings: a new ping_id does not exceed the stored maximum")
        if sorted((r["playlist_id"], r["status"]) for r in new) != sorted(expected.items()):
            errs.append(f"playlist_pings: new pings {sorted((r['playlist_id'], r['status']) for r in new)} != expected {sorted(expected.items())}")
        elif any(canon_cell(r["pinged_timestamp"]) != canon_cell(self.ping_now) for r in new):
            errs.append("playlist_pings: new pings carry the wrong timestamp")
        for r in new:
            self.pings[r["ping_id"]] = dict(r)
        self.expected_pings = {}

        got_t = {r["video_id"]: r for r in actual["transcripts"]}
        if set(got_t) != set(self.transcripts):
            errs.append("transcripts: ids differ from the model")
        for vid, exp in self.transcripts.items():
            got = got_t.get(vid)
            if got is None:
                continue
            if (got["md5"] != exp["md5"] or canon_cell(got["language"]) != canon_cell(exp["language"])
                    or canon_cell(got["segments"]) != canon_cell(exp["segments"])
                    or not self._ts_ok(exp["last_fetched_timestamp"], got["last_fetched_timestamp"], window)):
                errs.append(f"transcripts[{vid}]: differs from the model")
                break
            exp["last_fetched_timestamp"] = got["last_fetched_timestamp"]
        return errs

    def summary_rows(self) -> list[tuple]:
        return [(p, r["title"], len(self.edges.get(p, {}))) for p, r in self.playlists.items()]

    def check_summary(self, cols, rows) -> list[str]:
        errs = compare_sets("sync playlist_summary", cols, rows,
                            ["playlist_id", "title", "video_count"], self.summary_rows())
        if errs:
            return errs
        return check_sorted("sync playlist_summary", [dict(zip(cols, r)) for r in rows],
                            BROWSE_ORDER["playlist_summary"])

    def check_export(self, records: list[dict]) -> list[str]:
        got = {r["playlist_id"]: r for r in records}
        if set(got) != set(self.playlists) or len(records) != len(got):
            return ["export: playlist ids differ from the model"]
        for pid, p in self.playlists.items():
            r = got[pid]
            order = [v for v, _ in sorted(self.edges.get(pid, {}).items(), key=lambda kv: (kv[1], kv[0]))]
            if r.get("title") != p["title"] or r.get("url") != p["url"] or r.get("video_ids") != order:
                return [f"export[{pid}]: differs from the model"]
        return []
