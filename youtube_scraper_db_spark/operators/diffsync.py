"""Set-difference diff-sync (SURVEY.md §2.3 J8, §2.7 E1/E4).

The reference computes ``ids_to_add = yt − db`` and ``ids_to_remove =
db − yt`` with Python sets (ref main_scraper.py:148-152,
scrape_my_channel.py:182-187). Spark-first, each direction is one
``left_anti`` join; at 100 TB both sides shuffle on the key once and the
two anti-joins share that partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .merge import insert_if_absent, keyed_delete


def diff_keys(
    current: DataFrame, desired: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """Return ``(to_add, to_remove)`` key sets.

    ``to_add``    = desired − current (ref main_scraper.py:151)
    ``to_remove`` = current − desired (ref main_scraper.py:152)
    """
    cur = current.select(*keys).distinct()
    des = desired.select(*keys).distinct()
    to_add = des.join(cur, on=list(keys), how="left_anti")
    to_remove = cur.join(des, on=list(keys), how="left_anti")
    return to_add, to_remove


def diff_keys_tagged(
    current: DataFrame, desired: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Single-DataFrame view of the diff: each key row tagged with
    ``change ∈ {'add','remove'}`` — convenient for audit logs and the
    correctness oracle."""
    to_add, to_remove = diff_keys(current, desired, keys)
    return to_add.withColumn("change", F.lit("add")).unionByName(
        to_remove.withColumn("change", F.lit("remove"))
    )


def diff_keys_single_shuffle(
    current: DataFrame, desired: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Same output as :func:`diff_keys_tagged`, one shuffle instead of four.

    Union the two key sets with a side bit, then one hash aggregate
    computes per-key presence on each side; keys present on exactly one
    side become 'add'/'remove'. Map-side partial aggregation shrinks the
    shuffle to the distinct keys per partition — at 100 TB this replaces
    two sort-merge anti-joins (each shuffling both inputs) with a single
    shuffle of distinct keys, and it's skew-immune (no join). Prefer this
    when both snapshots are plain scans; prefer the anti-join form when one
    side is tiny (broadcast beats the union's full scan of the big side...
    which the diff still needs anyway — so in practice this wins whenever
    both sides must be read in full).
    """
    cur = current.select(*keys).withColumn("__in_cur", F.lit(1)).withColumn(
        "__in_des", F.lit(0)
    )
    des = desired.select(*keys).withColumn("__in_cur", F.lit(0)).withColumn(
        "__in_des", F.lit(1)
    )
    presence = (
        cur.unionByName(des)
        .groupBy(*keys)
        .agg(F.max("__in_cur").alias("__c"), F.max("__in_des").alias("__d"))
    )
    return (
        presence.filter(F.col("__c") != F.col("__d"))
        .select(
            *keys,
            F.when(F.col("__d") == 1, F.lit("add")).otherwise(F.lit("remove")).alias(
                "change"
            ),
        )
    )


def sync_membership(
    edges: DataFrame,
    desired: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Full membership sync (ref main_scraper.py:144-179): apply the diff to
    the edge table — insert missing ``desired`` rows (S11), delete rows no
    longer desired (S12). Non-key columns of inserted rows come from
    ``desired`` (e.g. ``position``)."""
    to_add, to_remove = diff_keys(edges, desired, keys)
    added = insert_if_absent(edges, desired.join(to_add, on=list(keys), how="left_semi"), keys)
    return keyed_delete(added, to_remove, keys)


def sync_scoped_membership(
    edges: DataFrame,
    desired: DataFrame,
    scope: str,
    keys: Sequence[str],
) -> DataFrame:
    """``sync_membership`` scoped to the ``scope`` values present in
    ``desired`` — the reference syncs per fetched playlist (ref
    main_scraper.py:144-179), so an unfetched playlist keeps its edges.
    left_semi/left_anti on the same broadcastable key set split the
    table without a shuffle; the untouched rows pass through as-is."""
    touched = desired.select(scope).distinct()
    in_scope = edges.join(touched, scope, "left_semi")
    untouched = edges.join(touched, scope, "left_anti")
    return untouched.unionByName(sync_membership(in_scope, desired, keys))
