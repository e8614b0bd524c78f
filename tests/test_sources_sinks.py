"""Sources (S2/S4/S9) and export sinks (S14/S15) against tmp fixtures."""

from __future__ import annotations

import json

import pytest

from youtube_scraper_db_spark.sinks import (
    playlists_nested,
    render_transcript_files,
    write_playlists_json,
    write_transcript_files,
)
from youtube_scraper_db_spark.sources import (
    extract_playlist_ids,
    read_playlists_json,
    read_transcript_files,
)


@pytest.fixture()
def playlists_json_file(tmp_path):
    data = [
        {"playlist_id": "PL001", "title": "Alpha", "url": "https://example.test/p1"},
        {"id": "PL002", "title": "Beta"},  # key variant + missing url
        {"id": "PL003"},  # no title → dropped
        {"title": "No id"},  # no id → dropped
    ]
    p = tmp_path / "playlists.json"
    p.write_text(json.dumps(data))
    return str(p)


def test_read_playlists_json(spark, playlists_json_file):
    rows = {r.playlist_id: r for r in read_playlists_json(spark, playlists_json_file).collect()}
    assert set(rows) == {"PL001", "PL002"}
    assert rows["PL001"].url == "https://example.test/p1"
    assert rows["PL002"].url.endswith("list=PL002")  # synthesized
    assert rows["PL002"].item_count is None


TRANSCRIPT_FILE = """TITLE: My Video
URL: https://www.youtube.com/watch?v=abcdefghijk

[00:01] hello
[00:05] world
"""

ID_ONLY_FILE = """ID: zyxwvutsrqp

plain body text here
"""

HEADERLESS_FILE = "no headers at all, just text\n"


def test_read_transcript_files(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "a.txt").write_text(TRANSCRIPT_FILE)
    (inbox / "b.srt").write_text(ID_ONLY_FILE)
    (inbox / "c.vtt").write_text(HEADERLESS_FILE)  # dropped: no id
    (inbox / "ignored.json").write_text("{}")  # outside the glob set

    rows = {r.video_id: r for r in read_transcript_files(spark, str(inbox)).collect()}
    assert set(rows) == {"abcdefghijk", "zyxwvutsrqp"}
    a = rows["abcdefghijk"]
    assert a.title == "My Video"
    assert a.transcript.startswith("[00:01] hello")
    assert a.has_timestamps
    b = rows["zyxwvutsrqp"]
    assert b.title == "Video zyxwvutsrqp"  # synthesized fallback
    assert b.url.endswith("watch?v=zyxwvutsrqp")
    assert not b.has_timestamps


def test_extract_playlist_ids(spark):
    html = (
        '<a href="/playlist?list=PLAAAAAAAA01">x</a>'
        '"playlistId":"PLBBBBBBBB02"'
        "list=short"  # len ≤ 8 → dropped
        '<a href="/playlist?list=PLAAAAAAAA01">dup</a>'
    )
    df = spark.createDataFrame([("page1", html)], "page string, html string")
    got = extract_playlist_ids(df, "html", "page")
    ids = sorted(r.playlist_id for r in got.collect())
    assert ids == ["PLAAAAAAAA01", "PLBBBBBBBB02"]


def test_playlists_nested_export(spark, playlists, playlist_videos, tmp_path):
    nested = playlists_nested(playlists, playlist_videos).collect()
    by_id = {r.playlist_id: r.video_ids for r in nested}
    assert by_id["PL001"] == ["vid00000001", "vid00000002", "vid00000003"]
    assert by_id["PL003"] == []  # empty playlist survives the left join
    # NOCASE title order: Alpha Mix < beta mix < Empty One is wrong in
    # binary order but right case-insensitively ('' sorts first).
    titles = [r.title for r in nested]
    assert titles == sorted(titles, key=str.lower)

    out = tmp_path / "export"
    write_playlists_json(playlists, playlist_videos, str(out))
    lines = [
        json.loads(ln)
        for f in out.glob("*.json")
        for ln in f.read_text().splitlines()
    ]
    assert {d["playlist_id"] for d in lines} == {"PL001", "PL002", "PL003", "PL004"}


def test_render_transcript_files(spark, videos, transcripts, tmp_path):
    joined = videos.join(transcripts, "video_id").filter("transcript != ''")
    rendered = {r.filename: r.content for r in render_transcript_files(joined).collect()}
    assert len(rendered) == 2
    fname = "Spark SQL intro_vid00000001.txt"
    assert fname in rendered
    assert rendered[fname].startswith("TITLE: Spark SQL intro\nURL: ")
    assert "[00:00] hello spark world" in rendered[fname]

    out = tmp_path / "texts"
    n = write_transcript_files(joined, str(out))
    assert n == 2
    assert (out / fname).read_text() == rendered[fname]


NO_BLANK_LINE_FILE = """TITLE: No Blank
URL: https://www.youtube.com/watch?v=nblnblnblnb
body runs straight after headers
"""

LEADING_BLANK_FILE = """
TITLE: Leading Blank
URL: https://www.youtube.com/watch?v=ldbldbldbld

actual body
"""


def test_transcript_body_edge_cases(spark, tmp_path):
    """Ref add_transcripts.py:96-116 parity: (1) no blank line → the WHOLE
    file (headers included) is the transcript; (2) a blank line BEFORE the
    headers does not start the body — only a blank line after a header
    does."""
    inbox = tmp_path / "inbox_edge"
    inbox.mkdir()
    (inbox / "noblank.txt").write_text(NO_BLANK_LINE_FILE)
    (inbox / "leading.txt").write_text(LEADING_BLANK_FILE)

    rows = {r.video_id: r for r in read_transcript_files(spark, str(inbox)).collect()}
    nb = rows["nblnblnblnb"]
    assert nb.transcript.startswith("TITLE: No Blank")  # whole file kept
    assert nb.transcript.rstrip().endswith("straight after headers")
    lb = rows["ldbldbldbld"]
    assert lb.transcript.strip() == "actual body"  # headers not in body


def test_jsonl_roundtrip_adversarial_strings(spark, tmp_path):
    """Spark's line-delimited JSON writer must survive content that
    stresses the format: embedded quotes, backslashes, tabs, unicode,
    and the empty string. (Literal newlines are escaped as \\n inside
    the JSON string, so line-delimited framing is safe.)"""
    rows = [
        (1, 'he said "hi" and left'),
        (2, "back\\slash and tab\there"),
        (3, "unicode: 你好 — ñandú 🚀"),
        (4, ""),
        (5, "line\nbreak inside"),
        (6, "{looks: like, json: true}"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = str(tmp_path / "jsonl")
    df.write.mode("overwrite").json(out)
    back = spark.read.schema("id long, text string").json(out)
    got = {r.id: r.text for r in back.collect()}
    assert got == dict(rows)


def test_csv_roundtrip_hostile_content(spark, tmp_path):
    """RFC-4180 dialect (quote-doubling, multiLine for embedded
    newlines) must survive commas, quotes, unicode and line breaks —
    the testdata corpus is benign, so the dialect is pinned here."""
    rows = [
        (1, 'comma, inside "quoted, field"'),
        (2, 'just "quotes" everywhere ""'),
        (3, "unicode: 你好 — ñandú 🚀"),
        (4, "line\nbreak inside"),
        (5, "trailing space "),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = str(tmp_path / "csv")
    dialect = dict(
        header=True,
        quote='"',
        escape='"',
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
    )
    df.write.mode("overwrite").options(**dialect).csv(out)
    back = (
        spark.read.schema("id long, text string")
        .options(multiLine=True, **dialect)
        .csv(out)
    )
    got = {r.id: r.text for r in back.collect()}
    assert got == dict(rows)


def test_orc_roundtrip_types(spark, tmp_path):
    import datetime as dt

    rows = [(1, "a", 1.5, dt.date(2024, 1, 2)), (2, None, None, None)]
    df = spark.createDataFrame(rows, "id long, s string, x double, d date")
    out = str(tmp_path / "orc")
    df.write.mode("overwrite").orc(out)
    back = spark.read.schema("id long, s string, x double, d date").orc(out)
    assert sorted(map(tuple, back.collect())) == sorted(rows)
