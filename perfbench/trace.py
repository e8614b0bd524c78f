"""Per-layer tracing for ``run.py --trace 1``.

Wraps the layers' public functions from outside (the program is not
edited) and gives every benchmark call its own Spark job group. Spans
(name, start, end, parent, call id) stay in memory and are written as JSON at the end, with each layer's self time.

Every metric is taken per timed pass and reported as the median over the
run's timed passes, unless its name says otherwise.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import statistics
import time
from collections import defaultdict

from . import workloads

QUERY_FNS = {
    "catalog": ("playlist_summary", "playlist_videos_with_flags", "video_detail", "video_playlists"),
    "analytics": ("summary_stats", "cross_linked_videos", "top_channels", "per_playlist_stats"),
    "search": ("search_titles", "search_transcripts"),
}


def metric_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["session.start_s", "archive.table_calls", "archive.table_ms", "archive.commit_ms",
             "archive.commit_mb", "archive.inbox_ms", "archive.disk_mb"]
    names += [f"queries.{c}_ms" for c in workloads.Browse.CALLS]
    names += ["queries.plan_ms", "queries.exec_ms", "queries.jobs_per_op", "queries.tasks_per_op",
              "pipelines.fetch_ms", "pipelines.refresh_plan_ms", "operators.exchanges_per_commit",
              "sinks.export_ms", "host.anchor_ms"]
    return names


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(d, f))
    return total / 2**20


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark, self.sc = spark, spark.sparkContext
        self.workload = workload
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.call_id = ""
        self.n_calls = 0
        self.cur: dict[str, float] = defaultdict(float)   # this pass
        self.per_op: list[dict] = []                       # this pass
        self.passes: list[dict[str, float]] = []           # timed passes
        self.fixed: dict[str, float] = {}
        self._undo: list[tuple[object, str, object]] = []
        self._install()

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter() - self.t0, "end": None,
               "parent": self.stack[-1] if self.stack else None, "call": self.call_id}
        self.spans.append(rec)
        self.stack.append(idx)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def _wrap(self, owner, attr: str, key: str, around=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            t = time.perf_counter()
            with tracer.span(key):
                ctx = around(a, k) if around else contextlib.nullcontext()
                with ctx:
                    out = orig(*a, **k)
            tracer.cur[key + "_ms"] += (time.perf_counter() - t) * 1000
            tracer.cur[key + "_calls"] += 1
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _install(self) -> None:
        from youtube_scraper_db_spark import archive as ar_mod
        from youtube_scraper_db_spark.queries import analytics, catalog, search

        A = ar_mod.Archive
        self._wrap(A, "table", "archive.table")
        self._wrap(A, "_commit", "archive.commit", around=self._commit_probe)
        self._wrap(A, "ingest_transcript_inbox", "archive.inbox")
        for mod in (catalog, analytics, search):
            for fn in QUERY_FNS[mod.__name__.rsplit(".", 1)[1]]:
                self._wrap(mod, fn, "queries.plan")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)

    @contextlib.contextmanager
    def _commit_probe(self, a, k):
        ar, name, df = a[0], a[1], a[2]
        plan = df._jdf.queryExecution().executedPlan().toString()
        self.cur["operators.exchanges"] += len(re.findall(r"(?<!Reused)Exchange\b", plan))
        self.cur["operators.commits"] += 1
        yield
        self.cur["archive.commit_mb"] += dir_mb(ar._path(name))

    # -- calls and passes ---------------------------------------------------

    def begin_pass(self) -> None:
        self.cur = defaultdict(float)
        self.per_op = []

    @contextlib.contextmanager
    def op(self, name: str):
        self.n_calls += 1
        self.call_id = f"c{self.n_calls}"
        self.sc.setJobGroup(self.call_id, name, interruptOnCancel=False)
        plan0 = self.cur["queries.plan_ms"]
        t = time.perf_counter()
        try:
            with self.span("op." + name):
                yield
        finally:
            ms = (time.perf_counter() - t) * 1000
            jobs, tasks = self._group_stats(self.call_id)
            self.per_op.append({"name": name, "ms": ms, "jobs": jobs, "tasks": tasks,
                                "plan_ms": self.cur["queries.plan_ms"] - plan0})
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _group_stats(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                tasks += si.numCompletedTasks if si else 0
        return len(jobs), tasks

    def end_pass(self, timed: bool) -> None:
        if not timed:
            return
        c, ops = self.cur, self.per_op
        by = {o["name"]: o for o in ops}
        m: dict[str, float] = {
            "archive.table_calls": c["archive.table_calls"],
            "archive.table_ms": c["archive.table_ms"],
            "archive.commit_ms": c["archive.commit_ms"],
            "archive.commit_mb": c["archive.commit_mb"],
            "archive.inbox_ms": c["archive.inbox_ms"],
            "operators.exchanges_per_commit": c["operators.exchanges"] / c["operators.commits"]
            if c["operators.commits"] else 0.0,
            "pipelines.fetch_ms": by.get("fetch", {}).get("ms", 0.0),
            "pipelines.refresh_plan_ms": by.get("refresh_plan", {}).get("ms", 0.0),
            "sinks.export_ms": by.get("export_playlists_json", {}).get("ms", 0.0),
        }
        for call in workloads.Browse.CALLS:
            m[f"queries.{call}_ms"] = by.get(call, {}).get("ms", 0.0)
        qops = [o for o in ops if o["name"] in workloads.Browse.CALLS]
        if qops:
            m["queries.plan_ms"] = statistics.median(o["plan_ms"] for o in qops)
            m["queries.exec_ms"] = statistics.median(o["ms"] - o["plan_ms"] for o in qops)
            m["queries.jobs_per_op"] = sum(o["jobs"] for o in qops) / len(qops)
            m["queries.tasks_per_op"] = sum(o["tasks"] for o in qops) / len(qops)
        self.passes.append(m)

    # -- results --------------------------------------------------------------

    def anchor(self) -> None:
        """A fixed codegen probe, independent of the program: it tells
        host drift apart from a program change."""
        from pyspark.sql import functions as F

        times = []
        for _ in range(3):
            t = time.perf_counter()
            (self.spark.range(0, 20_000_000, 1, 4)
             .select(F.sum(F.xxhash64("id") % 1_000_003).alias("h"))
             .write.mode("overwrite").format("noop").save())
            times.append((time.perf_counter() - t) * 1000)
        self.fixed["host.anchor_ms"] = statistics.median(times)

    def metrics(self, session_s: float, archive_dir: str | None) -> dict[str, float]:
        out = {name: 0.0 for name in metric_names()}
        out["session.start_s"] = session_s
        keys = {k for p in self.passes for k in p}
        for k in keys:
            out[k] = statistics.median(p.get(k, 0.0) for p in self.passes)
        if archive_dir and os.path.isdir(archive_dir):
            out["archive.disk_mb"] = dir_mb(archive_dir)
        out.update(self.fixed)
        return out

    def write(self, path: str) -> None:
        """Spans plus each layer's self time (span time minus the time of
        its child spans), summed over the run."""
        kids = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]] += s["end"] - s["start"]
        self_time: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                layer = s["name"].split(".", 1)[0]
                self_time[layer] += s["end"] - s["start"] - kids[i]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "self_time_s": self_time, "spans": self.spans}, f)

