"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

``queries()`` lists every registry query stalest first: by the latest
round whose ``CORRECTNESS_r{N}.json`` holds a green row for it, with
never-green queries first and ties in registration order. So the first
50 entries, the window the driver checks, are always the queries that
have gone longest without a green row.

The real inventory lives in ``youtube_scraper_db_spark.registry`` — one
named query per implemented operator from SURVEY.md §2, each exercising
the engine's operator library.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from youtube_scraper_db_spark import registry

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The playlist-summary slice from SURVEY.md §7.2 step 2 (customer ⟕
    orders → group-count): read, left join, aggregate in one plan.
    """
    return registry.customer_order_counts(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; omitted keys get the rows-only check."""
    return registry.oracle_sql()
