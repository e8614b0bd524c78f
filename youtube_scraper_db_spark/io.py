"""Parquet-backed table IO (SURVEY.md §2.1 S1, S16).

Reads are plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning and row-group skipping; writes default to snappy parquet.
Schema evolution (ref main_scraper.py:244-251 PRAGMA+ALTER) maps to
``mergeSchema`` on read and additive ``unionByName(allowMissingColumns)``
on write — see ``evolve_schema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .schemas import TESTDATA_TABLES


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (S1). Pushdown/pruning come from Catalyst.

    Timestamp normalization: the driver has regenerated the testdata with
    different parquet timestamp encodings across rounds — TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects outright) and no-tz
    ``timestamp[us]`` (which Spark 4 reads as TIMESTAMP_NTZ). Queries must
    see exactly ONE type regardless of how the driver wrote the file, so we
    normalize here, once, at the IO boundary:

    - nanos: read via the sanctioned ``legacy.parquet.nanosAsLong`` path
      and rebuild a microsecond TimestampType column (truncation — matching
      how DuckDB/pandas narrow ns → µs);
    - ``timestamp_ntz``: cast to session-TZ TimestampType. The session TZ
      is pinned to UTC (session.ensure_utc), so the cast is wall-clock
      preserving and agrees with the DuckDB oracle's naive timestamps.

    The casts are applied before any query logic, so Catalyst still pushes
    filters/pruning into the scan for every untouched column.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_timestamps(spark.read.parquet(path), name)


def normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Rebuild driver-written timestamp encodings into session-TZ
    TimestampType (see ``read_table``); shared by the batch and streaming
    read paths so both surface one timestamp type."""
    from pyspark.sql import functions as F

    fixes = {}
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            fixes[col] = F.col(col).cast("timestamp")
        elif name == "events" and col == "ts" and dtype == "bigint":
            fixes[col] = F.timestamp_micros(F.expr("ts div 1000"))
    return df.withColumns(fixes) if fixes else df


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open one testdata table as a STREAMING source (file source +
    ``pathGlobFilter``; the parquet file sits in a directory shared with
    the other tables, and Spark's file stream source requires the
    directory as its basePath). Timestamps are normalized exactly as in
    ``read_table``, so a streaming query and its batch twin see identical
    input schemas — the property the batch/stream agreement oracles rely
    on."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Directory-style table (name.parquet/part-*.parquet): the table
        # path itself is the stream's basePath. The glob-filter route
        # below would silently match nothing here, because
        # ``pathGlobFilter`` applies to LEAF FILE names, not directories
        # (round-3 ADVICE: a driver regen to multi-file layout would
        # have produced an empty stream instead of an error).
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        # Single-file table sharing its directory with the other tables:
        # stream the directory, keep only this table's file.
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    return normalize_timestamps(raw, name)


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver testdata table as a dict of DataFrames."""
    return {name: read_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for the SQL API."""
    for name, df in load_testdata(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def evolve_schema(old: DataFrame, new: DataFrame) -> DataFrame:
    """Additive schema evolution (S16): union tolerating columns present on
    only one side — the Spark analogue of ``ALTER TABLE ADD COLUMN`` at
    ref main_scraper.py:244-251 / update_playlists_metadata.py:44-52."""
    return old.unionByName(new, allowMissingColumns=True)
