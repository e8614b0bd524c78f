"""Bucketed table materialization — co-located joins with NO shuffle.

At 100 TB the dominant cost of the hub joins (orders⋈lineitem,
videos⋈playlist_videos⋈transcripts) is the shuffle of both sides on the
join key, paid again by every query. Bucketing pays that shuffle ONCE at
write time: both tables are hash-partitioned into the same number of
buckets on the join key (and sorted within buckets), so Catalyst plans a
sort-merge join with **zero Exchange and zero Sort** — each task streams
bucket i of both sides. The same property makes keyed aggregations on
the bucket key exchange-free.

This is the Spark-native answer to the reference's SQLite primary-key
B-trees (run_me.py:77-126): the PK lookup structure becomes the physical
layout. Bucket count is a capacity knob — at 100 TB pick
``table_bytes / ~256 MB`` so each bucket is one healthy task; bucket
counts of joined tables must match (or be integer multiples with
``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).

``saveAsTable`` is required (bucket metadata lives in the catalog, not
the parquet files); ``path`` makes the table external so the files land
in a controlled location rather than the session's warehouse dir
(``ensure_bucketed`` defaults it to a scratch dir removed at exit).

Exchange elimination needs no configuration. Sort elimination
additionally needs ``spark.sql.legacy.bucketedTableScan.outputOrdering=
true`` (set in session.get_spark) AND one file per bucket — which
``write_bucketed`` guarantees by pre-repartitioning on the bucket keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming.drain import scratch_dir


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int,
    path: str | None = None,
    sorted_by: list[str] | None = None,
) -> None:
    """Materialize ``df`` as a bucketed (and bucket-sorted) catalog table.

    The pre-write ``repartition`` on the bucket keys uses the same
    Murmur3 hash as the bucketing spec, so every write task holds exactly
    one bucket → ONE file per bucket. That layout is what lets the reader
    elide the merge-join Sort as well as the Exchange; with multiple
    files per bucket Spark must re-sort each bucket at read time."""
    from pyspark.sql import functions as F

    w = (
        df.repartition(num_buckets, *[F.col(k) for k in keys])
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *keys)
        .sortBy(*(sorted_by or keys))
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def ensure_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int,
    path: str | None = None,
) -> DataFrame:
    """Idempotent accessor: materialize once per catalog lifetime, then
    serve the bucketed table. (The bucketed copy is a derived artifact —
    rebuilding it is always safe.) The files go to ``path``, or to a
    fresh scratch dir allocated only when the table is written. The
    table name is the cache key, so it must name ``df``'s source."""
    if not spark.catalog.tableExists(table):
        write_bucketed(
            df, table, keys, num_buckets, path=path or scratch_dir(f"sg_{table}_")
        )
    return spark.table(table)
