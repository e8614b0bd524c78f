"""Scratch directories and the staged-stream drain (streaming/drain.py):
the per-process scratch root is gone after the process exits (also on an
uncaught exception, and a forked child cannot remove its parent's root);
a staged stream replays one file per micro-batch and its staging and
checkpoint dirs are gone after the ``with``; and no other module in the
package creates temp dirs that nothing removes."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys
import textwrap

import pytest

from youtube_scraper_db_spark.streaming.drain import (
    drain,
    scratch_dir,
    staged_stream,
)

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "youtube_scraper_db_spark"


def _run_child(tmp_path, body: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, TMPDIR=str(tmp_path))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    code = "from youtube_scraper_db_spark.streaming.drain import scratch_dir\n"
    return subprocess.run(
        [sys.executable, "-c", code + textwrap.dedent(body)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )


def _sg_entries(path) -> list[str]:
    return [d for d in os.listdir(path) if d.startswith("sg_")]


def test_scratch_root_removed_at_exit(tmp_path):
    res = _run_child(
        tmp_path,
        """
        import os
        a, b = scratch_dir("sg_a_"), scratch_dir("sg_b_")
        assert os.path.dirname(a) == os.path.dirname(b)
        with open(os.path.join(a, "f.txt"), "w") as fh:
            fh.write("x")
        print(os.path.dirname(a))
        """,
    )
    assert res.returncode == 0, res.stderr
    root = res.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("sg_")
    assert _sg_entries(tmp_path) == []


def test_scratch_root_removed_after_uncaught_exception(tmp_path):
    res = _run_child(
        tmp_path,
        """
        import os
        d = scratch_dir("sg_a_")
        with open(os.path.join(d, "f.txt"), "w") as fh:
            fh.write("x")
        raise RuntimeError("boom")
        """,
    )
    assert res.returncode == 1
    assert "RuntimeError: boom" in res.stderr
    assert _sg_entries(tmp_path) == []


def test_forked_child_keeps_parent_root(tmp_path):
    res = _run_child(
        tmp_path,
        """
        import os, sys
        root = os.path.dirname(scratch_dir("sg_a_"))
        pid = os.fork()
        if pid == 0:
            sys.exit(0)  # runs the inherited atexit hook
        os.waitpid(pid, 0)
        print(os.path.isdir(root))
        """,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "True"
    assert _sg_entries(tmp_path) == []


def _new_dirs(root: str, before: set[str]) -> set[str]:
    return {os.path.join(root, d) for d in set(os.listdir(root)) - before}


def test_staged_stream_drains_one_file_per_batch(spark):
    root = os.path.dirname(scratch_dir("sg_probe_"))
    before = set(os.listdir(root))
    df = spark.range(30).selectExpr("id", "id % 7 AS v")
    seen: list[tuple[int, int]] = []
    with staged_stream(df, 3) as (updates, ckpt):
        made = _new_dirs(root, before)
        assert ckpt in made and len(made) == 2
        drain(updates, lambda b, bid: seen.append((bid, b.count())), ckpt)
    assert len(seen) == 3
    assert sum(n for _, n in seen) == 30
    assert not any(os.path.exists(d) for d in made)


def test_staged_stream_cleans_up_when_body_raises(spark):
    root = os.path.dirname(scratch_dir("sg_probe_"))
    before = set(os.listdir(root))
    df = spark.range(4)
    with pytest.raises(RuntimeError):
        with staged_stream(df, 2) as (_updates, _ckpt):
            made = _new_dirs(root, before)
            raise RuntimeError("body failed")
    assert len(made) == 2
    assert not any(os.path.exists(d) for d in made)


def test_no_mkdtemp_outside_drain_module():
    """Every package temp dir goes through ``scratch_dir``, whose root
    is removed at exit; a bare ``mkdtemp`` elsewhere leaks."""
    owner = PKG / "streaming" / "drain.py"
    offenders = [
        str(p.relative_to(REPO))
        for p in PKG.rglob("*.py")
        if p != owner and re.search(r"\bmkdtemp\b", p.read_text())
    ]
    assert offenders == []
