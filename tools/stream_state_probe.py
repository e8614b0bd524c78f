"""Streaming STATE scale probe — the batch scale probe
(tools/scale_probe.py) measures operator time vs data volume; this one
measures STATEFUL STREAMING STATE vs key cardinality, the scale axis
unique to Structured Streaming: is state O(keys-in-window) under the
RocksDB store, and does it stay there when keys grow ×N?

Protocol: the sf events table is replicated ×N with offset user_ids and
event_ids (per-user density constant, user cardinality grows with
volume — the same growth shape as the batch probe), then each stateful
shape runs to completion (availableNow) at 1× and ×N on the repo's
production store config (RocksDB + boundedMemoryUsage) with ONE
probe-only override: ``trackTotalNumberOfRows=true``, so the
``numRowsTotal`` gauge reports real state rows (production keeps it
false for O(delta) commits; the gauge then reads -1 and this probe
would be blind).

Probed shapes (the three stateful streaming gate families):
- interval join  (streaming/joins.py correlate_streams)   state ∝ rows in watermark horizon
- sessionization (streaming/sessions.py sessionize_stream) state ∝ active users
- watermark dedup (streaming/dedup.py dedup_stream)        state ∝ distinct keys in horizon

For each: peak state rows (max over micro-batches of the summed
stateOperators ``numRowsTotal``), peak state memory, wall time; ratio
vs the ×N key ratio. Ratio ≈ N ⇒ state linear in keys; ≫ N flags a
super-linear state stage (e.g. a join retaining rows past its
watermark).

Usage: python tools/stream_state_probe.py [--factor 20] [--sf DIR]
Appends/refreshes the streaming section of SCALE_PROBE.md.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from youtube_scraper_db_spark.io import read_table, read_table_stream  # noqa: E402
from youtube_scraper_db_spark.session import get_spark  # noqa: E402
from youtube_scraper_db_spark.streaming.dedup import dedup_stream  # noqa: E402
from youtube_scraper_db_spark.streaming.drain import scratch_dir  # noqa: E402
from youtube_scraper_db_spark.streaming.joins import correlate_streams  # noqa: E402
from youtube_scraper_db_spark.streaming.sessions import sessionize_stream  # noqa: E402

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
ROCKS = "spark.sql.streaming.stateStore.rocksdb."


def build_scaled_events(spark, sf_dir: str, factor: int) -> str:
    """events replicated ×factor with offset user/event ids — key
    cardinality grows with volume, per-key event density constant."""
    out = scratch_dir(f"sg_stream_x{factor}_")
    ev = read_table(spark, sf_dir, "events")
    max_id = ev.agg(F.max("event_id")).first()[0] + 1
    max_user = ev.agg(F.max("user_id")).first()[0] + 1
    copies = [
        ev.select(
            (F.col("event_id") + F.lit(i * max_id)).alias("event_id"),
            (F.col("user_id") + F.lit(i * max_user)).alias("user_id"),
            *[c for c in ev.columns if c not in ("event_id", "user_id")],
        )
        for i in range(factor)
    ]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    path = os.path.join(out, "events.parquet")
    big.repartition(8).write.parquet(path)
    return out


def _probe_confs(spark, partitions: int):
    keys = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
        ROCKS + "boundedMemoryUsage": "true",
        ROCKS + "maxMemoryUsageMB": "2048",
        # probe-only: real numRowsTotal (production runs false)
        ROCKS + "trackTotalNumberOfRows": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    return saved


def _restore_confs(spark, saved):
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def run_stateful(
    spark, df: DataFrame, name: str, partitions: int = 8,
    output_mode: str = "append",
):
    """Drain a streaming plan (availableNow → noop-style memory count)
    and return (wall_s, peak_state_rows, peak_state_mem_bytes,
    out_rows)."""
    saved = _probe_confs(spark, partitions)
    ckpt = scratch_dir(f"sg_ckpt_{name}_")
    sink = f"probe_{name}_{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    peak_rows = 0
    peak_mem = 0
    for p in q.recentProgress:
        ops = p.get("stateOperators") or []
        rows = sum(int(o.get("numRowsTotal") or 0) for o in ops)
        mem = sum(int(o.get("memoryUsedBytes") or 0) for o in ops)
        peak_rows = max(peak_rows, rows)
        peak_mem = max(peak_mem, mem)
    out_rows = spark.table(sink).count()
    spark.catalog.dropTempView(sink)
    shutil.rmtree(ckpt, ignore_errors=True)
    _restore_confs(spark, saved)
    return wall, peak_rows, peak_mem, out_rows


def shapes(spark, sf_dir: str):
    def interval_join():
        left = read_table_stream(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        right = read_table_stream(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        return correlate_streams(
            left, right, on="user_id", within="30 minutes", watermark="2 hours"
        ).select("l_event_id", "r_event_id")

    def sessions():
        ev = read_table_stream(spark, sf_dir, "events").select("user_id", "ts")
        return sessionize_stream(
            ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull()),
            gap=dt.timedelta(minutes=30),
            watermark="1 hour",
        )

    def dedup():
        ev = read_table_stream(spark, sf_dir, "events")
        return dedup_stream(
            ev, ["user_id", "event_type"], ts_col="ts", watermark="3650 days"
        ).select("user_id", "event_type")

    def hll_registers():
        from youtube_scraper_db_spark.operators import sketches as S

        ev = read_table_stream(spark, sf_dir, "events").select("user_id")
        bucket, rho = S.hll_bucket_rho(F.col("user_id"), 9)
        return (
            ev.where(F.col("user_id").isNotNull())
            .select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("rho"))
        )

    def mg_summary():
        from youtube_scraper_db_spark.streaming.heavy_hitters import (
            mg_candidate_stream,
        )

        ev = (
            read_table_stream(spark, sf_dir, "events")
            .where(F.col("user_id").isNotNull())
            .select(F.col("user_id").cast("string").alias("w"))
        )
        return mg_candidate_stream(ev, "w", k=32, buckets=32)

    return {
        "stream_interval_join": interval_join,
        "stream_sessionize": sessions,
        "stream_watermark_dedup": dedup,
        # the streaming-sketch counterexample: state must stay FLAT
        # (O(2^9 registers)) while key cardinality grows ×N — the entire
        # reason sketches exist in streaming (complete output mode)
        "stream_hll_registers": hll_registers,
        # the deterministic-summary counterexample (round 8): ONE
        # GroupState row per hash bucket holds the (k-1)-slot MG
        # summary, so numRowsTotal is capped at `buckets`=32 while key
        # cardinality grows ×N (update output mode)
        "stream_mg_summary": mg_summary,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=20)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    scaled = build_scaled_events(spark, args.sf, args.factor)
    users_1x = (
        read_table(spark, args.sf, "events").agg(F.countDistinct("user_id")).first()[0]
    )

    lines = [
        "",
        f"## Streaming state probe (×{args.factor} key cardinality, "
        "per-key density constant)",
        "",
        "RocksDB + boundedMemoryUsage (production config) with probe-only "
        "`trackTotalNumberOfRows=true` so `numRowsTotal` reports real state "
        "rows. `state ratio` compares peak state rows at ×N keys vs ×1 — "
        f"≈{args.factor} ⇒ state is O(keys-in-window); ≫{args.factor} ⇒ a "
        "super-linear state stage. Generated by tools/stream_state_probe.py "
        f"({users_1x} users at ×1).",
        "",
        "| query | state rows ×1 | state rows ×N | state ratio | "
        "peak mem ×N | t(×1) s | t(×N) s | verdict |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, make in shapes(spark, args.sf).items():
        mode = {
            "stream_hll_registers": "complete",
            "stream_mg_summary": "update",
        }.get(name, "append")
        w1, r1, m1, o1 = run_stateful(spark, make(), name, output_mode=mode)
        # rebuild against the scaled dir
        def make_scaled(nm=name):
            return shapes(spark, scaled)[nm]()

        wN, rN, mN, oN = run_stateful(
            spark, make_scaled(), name + "_xN", output_mode=mode
        )
        ratio = (rN / r1) if r1 else float("inf")
        if name == "stream_hll_registers":
            # the sketch contract is the OPPOSITE of keyed state: the
            # register table is CAPPED at 2^9 rows regardless of key
            # cardinality (at small volumes it may sit below the cap —
            # 479/512 hit at ×1 — and saturate as keys grow; saturation
            # IS the bounded-state guarantee)
            verdict = (
                "state O(sketch) — capped at 512"
                if rN <= 512
                else "SKETCH STATE GREW"
            )
        elif name == "stream_mg_summary":
            verdict = (
                "state O(buckets·k) — one state row per bucket"
                if rN <= 32
                else "MG STATE GREW"
            )
        else:
            verdict = (
                "state O(keys)"
                if ratio <= args.factor * 1.5
                else "SUPER-LINEAR STATE"
            )
        print(
            f"{name}: rows {r1}->{rN} (ratio {ratio:.1f} vs {args.factor}), "
            f"mem {mN/1e6:.0f}MB, t {w1:.1f}->{wN:.1f}s, out {o1}->{oN}"
        )
        lines.append(
            f"| {name} | {r1} | {rN} | {ratio:.1f}× | "
            f"{mN / 1e6:.0f} MB | {w1:.1f} | {wN:.1f} | {verdict} |"
        )
    shutil.rmtree(scaled, ignore_errors=True)

    report = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_PROBE.md",
    )
    with open(report) as f:
        content = f.read()
    marker = "## Streaming state probe"
    if marker in content:
        content = content[: content.index(marker)].rstrip() + "\n"
    with open(report, "w") as f:
        f.write(content + "\n".join(lines) + "\n")
    print(f"wrote streaming section to {report}")


if __name__ == "__main__":
    main()
