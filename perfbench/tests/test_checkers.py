"""The benchmark's checkers accept the program's output and reject planted
wrong answers: a dropped row, a perturbed value, two rows swapped out of
sort-key order.

Each workload runs at a tiny size in one shared Spark session:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, workloads  # noqa: E402

ARCHIVE = {"n_videos": 300, "n_playlists": 30}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from youtube_scraper_db_spark.session import get_spark

    os.environ["TZ"] = "UTC"
    os.environ.setdefault("PYTHONPATH", ROOT)
    import time

    time.tzset()
    s = get_spark("perfbench-tests", master="local[2]", extra_conf={
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh")),
    })
    yield s


def _run(op):
    res = op.call()
    return res, (op.check(res) if op.check else [])


def _drop(res):
    cols, rows = res
    return cols, rows[1:]


def _perturb(res, col):
    cols, rows = res
    i = cols.index(col)
    r = list(rows[0])
    r[i] = r[i] + 1 if isinstance(r[i], int) else (r[i] or "") + "x"
    return cols, [tuple(r)] + rows[1:]


def _swap(res, key):
    """Swap the first two rows whose sort keys differ."""
    cols, rows = res
    ks = [key(dict(zip(cols, r))) for r in rows]
    for j in range(1, len(rows)):
        if ks[j] != ks[0]:
            rows = list(rows)
            rows[0], rows[j] = rows[j], rows[0]
            return cols, rows
    raise AssertionError("all rows tie on the sort key")


def test_browse_checker_accepts_and_rejects(spark, tmp_path):
    wl = workloads.Browse(spark, str(tmp_path), seed=7, **ARCHIVE)
    wl.setup()
    ops = {op.name: op for op in wl.ops(0)}
    results = {}
    for name, op in ops.items():
        res, errs = _run(op)
        assert errs == [], (name, errs)
        results[name] = res
    summary = results["playlist_summary"]
    chk = ops["playlist_summary"].check
    assert chk(_drop(summary))
    assert chk(_perturb(summary, "video_count"))
    assert chk(_swap(summary, checks.BROWSE_ORDER["playlist_summary"]))
    top = results["top_channels"]
    assert ops["top_channels"].check(_swap(top, lambda r: (-r["video_count"], r["author"])))
    stats = ops["stats"].check
    assert stats(_perturb(results["stats"], "total_videos"))
    hits = results["search_transcripts"]
    if hits[1]:
        assert ops["search_transcripts"].check(_perturb(hits, "snippet"))


def test_sync_checker_accepts_and_rejects(spark, tmp_path):
    wl = workloads.Sync(spark, str(tmp_path), seed=7, **ARCHIVE)
    wl.setup()
    for cycle in range(2):  # the second cycle starts from a checked model
        for op in wl.ops(cycle):
            res, errs = _run(op)
            assert errs == [], (cycle, op.name, errs)
            if op.name == "playlist_summary":
                summary, summary_check = res, op.check
        assert wl.after_pass() == []
    assert summary_check(_drop(summary))
    assert summary_check(_perturb(summary, "video_count"))
    assert summary_check(_swap(summary, checks.BROWSE_ORDER["playlist_summary"]))

    m = wl.model
    actual = checks.read_committed(wl.archive)
    window = wl._window
    m.expected_pings = {}
    assert m.compare(actual, window) == []
    for table, mutate in (
        ("videos", lambda rows: rows[1:]),
        ("playlist_videos", lambda rows: rows[1:]),
        ("playlists", lambda rows: [dict(rows[0], item_count=(rows[0]["item_count"] or 0) + 1)] + rows[1:]),
        ("playlist_pings", lambda rows: rows + [dict(rows[-1])]),
        ("transcripts", lambda rows: [dict(rows[0], md5="0" * 32)] + rows[1:]),
    ):
        planted = dict(actual, **{table: mutate(list(actual[table]))})
        m.expected_pings = {}
        assert m.compare(planted, window), table

