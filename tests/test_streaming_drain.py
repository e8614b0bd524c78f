"""Scratch directories and the staged-stream drain (streaming/drain.py):
the per-process scratch root is gone after the process exits (also on an
uncaught exception, and a forked child cannot remove its parent's root),
and a killed process's root is swept by the next process while live
processes keep theirs;
a staged stream replays one file per micro-batch and its staging and
checkpoint dirs are gone after the ``with``; gates that return
driver-side rows leave no dirs behind; no other module in the package
creates temp dirs that nothing removes; and the commit marker, the
index-store log protocol and the Spark artifact checksum each have one
owning module."""

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


def _child(tmp_path, body: str) -> dict:
    """``subprocess`` arguments of a Python child with ``TMPDIR=tmp_path``
    that imports ``scratch_dir`` and runs ``body``."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    code = "from youtube_scraper_db_spark.streaming.drain import scratch_dir\n"
    return dict(
        args=[sys.executable, "-c", code + textwrap.dedent(body)],
        env=env,
        text=True,
    )


def _run_child(tmp_path, body: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        **_child(tmp_path, body), capture_output=True, timeout=120
    )


#: a child that prints its scratch root, then waits for a line on stdin
_WAITING_CHILD = """
import os, sys
print(os.path.dirname(scratch_dir("sg_a_")), flush=True)
sys.stdin.readline()
"""


def _start_waiting_child(tmp_path) -> tuple[subprocess.Popen, str]:
    proc = subprocess.Popen(
        **_child(tmp_path, _WAITING_CHILD),
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
    )
    return proc, proc.stdout.readline().strip()


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


def test_killed_process_root_swept_by_next_process(tmp_path):
    """A SIGKILLed process runs no exit hook; the next process's first
    ``scratch_dir`` call removes its root. It leaves alone a root whose
    name holds no owner record, and a root of another pid namespace
    whose owner pid is dead here (a process sharing ``TMPDIR`` from
    another container may still be using it)."""
    legacy = tmp_path / "sg_x1y2z3w4"
    legacy.mkdir()
    proc, root = _start_waiting_child(tmp_path)
    assert os.path.isdir(root)
    proc.kill()
    proc.wait(timeout=60)
    assert os.path.isdir(root)
    ns, owner = os.path.basename(root)[len("sg_"):].split("_", 1)
    foreign = tmp_path / f"sg_{int(ns) + 1}_{owner}"
    foreign.mkdir()
    res = _run_child(tmp_path, 'print(scratch_dir("sg_b_"))')
    assert res.returncode == 0, res.stderr
    assert not os.path.exists(root)
    assert sorted(_sg_entries(tmp_path)) == sorted([legacy.name, foreign.name])


def test_live_processes_keep_each_others_roots(tmp_path):
    """Two live processes, and a third that starts and sweeps while
    both run: no root of a live process is removed."""
    (a, root_a), (b, root_b) = (
        _start_waiting_child(tmp_path), _start_waiting_child(tmp_path)
    )
    try:
        res = _run_child(tmp_path, 'print(scratch_dir("sg_c_"))')
        assert res.returncode == 0, res.stderr
        assert os.path.isdir(root_a) and os.path.isdir(root_b)
    finally:
        for proc in (a, b):
            proc.communicate("\n", timeout=60)
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


def test_no_absolute_paths_in_package():
    """No package module names a machine path: scratch space comes from
    ``scratch_dir`` and data dirs from the caller, so a copy of the
    repo elsewhere (or a second process) never writes into this one."""
    literal = re.compile(r"""["']/(?:root|tmp|home|opt|var)\b""")
    offenders = [
        f"{p.relative_to(PKG)}:{n}"
        for p in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if literal.search(line)
    ]
    assert offenders == []


def test_commit_marker_owned_by_versioned_module():
    """Version naming, the ``_SUCCESS`` commit check and GC live in
    ``streaming/versioned.py`` alone: no other package module spells the
    marker, and the five stream folds reach it only via ``fold_stream``."""
    owner = PKG / "streaming" / "versioned.py"
    marker = [
        str(p.relative_to(REPO))
        for p in PKG.rglob("*.py")
        if p != owner and re.search(r"""["']_SUCCESS["']""", p.read_text())
    ]
    runners = [
        name
        for name in ("cdc", "kmv", "cc", "skyline", "sample")
        if "latest_committed_version"
        in (PKG / "streaming" / f"{name}.py").read_text()
    ]
    assert marker == [] and runners == []


def test_log_protocol_owned_by_store_module():
    """Log naming, listing, own-batch exclusion and tombstone reads live
    in ``streaming/store.py`` alone: no other package module spells a
    ``b_``/``d_`` log prefix or resolves log directories itself."""
    owner = PKG / "streaming" / "store.py"
    prefix = re.compile(r"""["'][bd]_["']|\bf["'][bd]_\{""")
    resolve = re.compile(
        r"\b_?(active_baseline|live_log_dirs|log_dir_name)\s*\("
    )
    offenders = [
        str(p.relative_to(REPO))
        for p in PKG.rglob("*.py")
        if p != owner
        and (prefix.search(p.read_text()) or resolve.search(p.read_text()))
    ]
    assert offenders == []


def test_md5_half_sql_owned_by_portable_hash():
    """The DuckDB form of the 60-bit md5 halves lives in
    ``functions/portable_hash.py`` alone (``md5_halves_sql``): no other
    package module types the ``substr(md5(…), 1|17, 15))::BIGINT``
    tail by hand. Other hashes (the 8-hex-char buckets, the 64-bit
    UBIGINT form, 11-char video ids) are different and stay."""
    owner = PKG / "functions" / "portable_hash.py"
    tail = re.compile(r",\s*(1|17),\s*15\)\)::BIGINT")
    offenders = [
        str(p.relative_to(REPO))
        for p in PKG.rglob("*.py")
        if p != owner and tail.search(p.read_text())
    ]
    assert offenders == []


def test_artifact_checksum_owned_by_sketches_module():
    """The Spark artifact checksum (row count and the summed first md5
    half mod ``_ART_CHECK_MOD``) is built once, by
    ``operators/sketches.py`` ``artifact_stats``/``artifact_tail``, the
    twin of the oracle's ``_ck_sql``: no other package module reduces
    by the checksum modulus by hand."""
    owner = PKG / "operators" / "sketches.py"
    mod = re.compile(r"%\s*F\.lit\(\s*\w*CHECK_MOD\b")
    offenders = [
        str(p.relative_to(REPO))
        for p in PKG.rglob("*.py")
        if p != owner and mod.search(p.read_text())
    ]
    assert offenders == []


def test_gates_returning_driver_rows_leave_no_scratch_dirs(spark):
    """Gates whose result is built from rows collected on the driver
    remove their staging and checkpoint dirs before returning."""
    from test_plan_lint import SF

    from youtube_scraper_db_spark import registry

    root = os.path.dirname(scratch_dir("sg_probe_"))
    gates = {
        registry.stream_window_late_drop: ("sg_late_", "sg_late_ck_"),
        registry.custom_source_stream_drain: (
            "sg_dsrc_stream_", "sg_dsrc_ck_"
        ),
        registry.stream_update_mode_counts: ("sg_upd_", "sg_upd_ck_"),
    }
    for gate, prefixes in gates.items():
        assert gate(spark, SF).count() > 0
        left = [d for d in os.listdir(root) if d.startswith(prefixes)]
        assert left == [], (gate.__name__, left)
