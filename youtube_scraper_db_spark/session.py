"""SparkSession builder tuned for this engine.

Local test/bench sessions run on ``local[N]`` with AQE enabled; the same
config block is what we would ship to a 1000-executor cluster minus the
master/memory overrides (shuffle partitions scale with cluster cores there,
and ``spark.sql.files.maxPartitionBytes`` keeps 100 TB scans at ~128 MB
tasks).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "youtube_scraper_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Defaults are driven by env vars so the driver/bench can override:
    ``SPARK_GRAFT_CPUS`` (executor threads) and standard Spark envs.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle parallelism ~ cores in local mode; AQE coalesces further.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # convert to broadcast joins when runtime stats allow, split skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas interchange (mapInPandas/applyInPandas stages).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128 MB scan splits — the cluster-scale default; harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Use bucket-sort metadata at scan time so bucketed sort-merge
        # joins skip the Sort as well as the Exchange. Off by default
        # since SPARK-28595 because it requires one file per bucket —
        # which operators/bucketing.write_bucketed guarantees.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin session timezone to UTC (idempotent; safe on a shared session).

    Spark renders timestamps in the session TZ while parquet stores
    UTC-normalized micros; the DuckDB oracle compares UTC-naive values, so
    every query entry point calls this before building its plan.
    """
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def drop_cached_state(spark: SparkSession) -> None:
    """Unpersist every cached table and RDD. Queries persist
    intermediates (shingle indexes, CC localCheckpoints) whose lifetime
    outlives the action; left in place they pile up across a timing run
    and make later timings measure block-manager/GC pressure instead of
    the plan."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def warm_up(spark: SparkSession, specs: Mapping, sf_dir: str) -> None:
    """Run three registry queries once each through the noop sink,
    untimed. ``specs`` maps a registry query name to its spec (``.fn``).

    Spins the JVM, the parquet footer caches AND the C2 JIT on the heavy
    codegen paths: the dedup pipeline's generated classes take 2-3
    executions to reach steady state, and an under-warmed first pass
    otherwise reports compiler time as plan time (measured: the same CC
    query 10.1s -> 6.5s -> 3.5s over three back-to-back runs)."""
    for name in ("top_suppliers", "minhash_lsh_dups", "near_dup_clusters"):
        specs[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()


def time_noop_run(
    spark: SparkSession,
    query: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> float:
    """Wall seconds to build ``query(spark, sf_dir)`` and run it through
    the noop sink, after ``drop_cached_state``. Building is timed too:
    stream and artifact gates do their work while building the frame."""
    drop_cached_state(spark)
    t0 = time.time()
    query(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.time() - t0
