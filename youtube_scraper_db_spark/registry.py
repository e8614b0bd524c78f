"""Driver-contract query registry.

One named query per implemented operator from SURVEY.md §2, instantiated
against the driver's TPC-H-ish testdata (TESTDATA.md) following the
structural mapping in SURVEY.md §7.4 (playlists→customer/orders analogy,
cross-link ≡ parts in >1 order, search ≡ LIKE over part names/documents,
diff-sync ≡ anti-joins between date-split snapshots, staleness ≡
threshold filters over ``events``).

Every spec carries BOTH the PySpark plan (``fn``) and the equivalent ANSI
SQL for the DuckDB oracle (``oracle``), with identical column aliases —
the driver hash-compares the two at sf=0.01. Specs without an oracle are
genuinely non-SQL-expressible and get the weaker rows-only check.

Conventions for oracle parity (see SURVEY.md §5):
- session timezone pinned to UTC before building any plan;
- every aggregate/computed column explicitly aliased on both sides;
- DuckDB integer-sum results cast to BIGINT (DuckDB widens SUM to INT128);
- floating-point aggregates rounded to 2 decimals on both sides so
  accumulation-order differences cannot flip the value hash;
- every LIMIT carries a total order (unique tie-break column);
- nondeterministic picks (SQLite bare-column GROUP BY) defined as MIN.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .archive import Archive
from .io import read_table, read_table_stream, register_views
from .llm import cluster as llm_cluster
from .llm.corpus import Corpus
from .llm import dedup as llm_dedup
from .llm import html as llm_html
from .llm import packing as llm_packing
from .llm import sampling as llm_sampling
from .llm import multimodal as llm_multimodal
from .llm import rarity as llm_rarity
from .llm import bigram as llm_bigram
from .llm import graph_ann as llm_graph_ann
from .llm import similarity as llm_similarity
from .llm import wordpiece as llm_wordpiece
from .llm import text as llm_text
from .operators import bloom_join as op_bloom_join
from .operators import bucketing
from .operators import kmv as op_kmv
from .operators import sketches as op_sketches
from .operators.dedup import dedup_first_seen
from .operators.diffsync import diff_keys_single_shuffle
from .operators import skyline as op_skyline
from .operators import sliding as op_sliding
from .operators.layout import hilbert_keyed, hilbert_oracle_sql, zorder_key
from .operators.partitioning import read_partitioned, write_partitioned
from .operators.skew import salted_count_distinct, salted_join
from .operators.windows import assign_positions, next_position, ordered_collect
from .pipelines import incremental
from .sources.playlists_json import read_playlists_json
from .sources.transcript_files import read_transcript_files
from .streaming.dedup import dedup_stream
from .streaming.enrich import enrich_stream
from .streaming.inbox import read_inbox_stream
from .streaming.drain import drain, scratch_dir, staged_stream
from .streaming.joins import correlate_streams
from .functions.scalars import (
    context_snippet,
    display_name,
    extract_video_id,
    format_duration,
    format_thousands,
    highlight,
    sanitize_filename,
)
from .semantics import ci_contains, nocase
from .session import ensure_utc

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    operators: str  # SURVEY.md §2 operator ids this query exercises
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: list[QuerySpec] = []


def spec(name: str, operators: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query spec."""

    def wrap(fn: QueryFn) -> QueryFn:
        REGISTRY.append(QuerySpec(name, operators, fn, oracle, tags))
        return fn

    return wrap


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_utc(spark)
    return read_table(spark, sf_dir, name)


# ----------------------------------------------------------------------
# Joins + aggregation (J1/A2, A3, A6, A1/A5, J7/A8)
# ----------------------------------------------------------------------

@spec(
    "customer_order_counts",
    "J1 A2 O2",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS order_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Playlist-summary analog (ref display.py:74-82): left join keeps
    customers with zero orders; count(o_orderkey) skips the NULL probe rows.
    Scale: customer ≪ orders → the join shuffles orders once on o_custkey;
    partial counts combine map-side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("order_count"))
    )


@spec(
    "cross_linked_parts",
    "A3 A4 O5",
    oracle="""
    SELECT l_partkey, count(DISTINCT l_orderkey) AS order_count
    FROM lineitem
    GROUP BY l_partkey
    HAVING count(DISTINCT l_orderkey) > 1
    """,
)
def cross_linked_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-link detection analog (ref display.py:126-143): parts appearing
    in more than one distinct order — countDistinct + HAVING."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("order_count"))
        .filter(F.col("order_count") > 1)
    )


@spec(
    "top_suppliers",
    "A6 O2 O7",
    oracle="""
    SELECT l_suppkey, count(*) AS line_count
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY line_count DESC, l_suppkey
    LIMIT 5
    """,
)
def top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5-channels analog (ref display.py:180-188): ordered LIMIT k →
    TakeOrderedAndProject (per-partition partial top-k, no global sort).
    Tie-break on the key for cross-engine determinism."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("line_count"))
        .orderBy(F.desc("line_count"), F.asc("l_suppkey"))
        .limit(5)
    )


@spec(
    "summary_stats",
    "A1 A4 A5",
    oracle="""
    SELECT
      (SELECT count(*) FROM orders)   AS total_orders,
      (SELECT count(*) FROM lineitem) AS total_lineitems,
      (SELECT max(o_orderdate) FROM orders) AS last_order_date,
      (SELECT count(*) FROM (
         SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) > 1
      )) AS multi_order_customers
    """,
)
def summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard stats analog (ref display.py:145-193): global counts, a
    global MAX, and an aggregate-of-aggregate — one single-row DataFrame
    built from cross-joined scalar aggregates (each a partial-combine agg)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # One pass over orders: the per-customer rollup simultaneously feeds
    # the global count (sum of per-customer counts), the global MAX, and
    # the agg-of-agg — fusing what was previously a second full orders
    # scan + scalar agg (round-3 VERDICT item 7: 6 exchanges for a
    # handful of scalars; now one hash agg + two scalar merges).
    stats = (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n"), F.max("o_orderdate").alias("d"))
        .agg(
            F.sum("n").alias("total_orders"),
            F.max("d").alias("last_order_date"),
            F.sum((F.col("n") > 1).cast("long")).alias("multi_order_customers"),
        )
    )
    return (
        stats.crossJoin(li.agg(F.count("*").alias("total_lineitems")))
        .select("total_orders", "total_lineitems", "last_order_date", "multi_order_customers")
    )


@spec(
    "per_customer_stats",
    "J7 A8",
    oracle="""
    SELECT c_custkey, c_name,
           COALESCE(s.order_count, 0) AS order_count,
           s.first_order AS first_order,
           s.last_order AS last_order
    FROM customer
    LEFT JOIN (
      SELECT o_custkey, count(*) AS order_count,
             min(o_orderdate) AS first_order, max(o_orderdate) AS last_order
      FROM orders GROUP BY o_custkey
    ) s ON c_custkey = s.o_custkey
    """,
)
def per_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery decorrelation (ref web_app.py:28-41, J7):
    one groupBy computes all three stats, then a left join onto the
    dimension keeps stat-less customers with NULL dates and zero count."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    stats = o.groupBy("o_custkey").agg(
        F.count("*").alias("order_count"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )
    return (
        c.join(stats, c.c_custkey == stats.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(F.col("order_count"), F.lit(0).cast("long")).alias("order_count"),
            "first_order",
            "last_order",
        )
    )


# ----------------------------------------------------------------------
# Filters / predicates / point lookups (P2, P4, P8, J3/P9)
# ----------------------------------------------------------------------

@spec(
    "point_lookup_order",
    "S1 P2",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
    """,
)
def point_lookup_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK point lookup (ref display.py:58-60): scalar-subquery key so the
    query is scale-factor-independent; parquet min/max row-group skipping
    serves the equality predicate at scale."""
    o = _t(spark, sf_dir, "orders")
    mk = o.agg(F.min("o_orderkey").alias("__mk"))
    return (
        o.join(F.broadcast(mk), o.o_orderkey == F.col("__mk"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )


@spec(
    "ci_name_search",
    "P4 P6 P1",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE lower(p_name) LIKE '%red%'
    """,
)
def ci_name_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive LIKE parity (ref display.py:547-559; SQLite LIKE is
    case-insensitive, Spark's is not → lower both sides, SURVEY §2.2 P4)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(ci_contains("p_name", "RED")).select("p_partkey", "p_name", "p_brand")


@spec(
    "has_order_flag",
    "P8 J3 P9",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN probe.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS has_order
    FROM customer
    LEFT JOIN (
      SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 0
    ) probe ON c_custkey = probe.o_custkey
    """,
)
def has_order_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """has_transcript-flag analog (ref display.py:97, gui_app.py:62): left
    join against a distinct existence probe with a residual predicate (P9),
    flag = CASE WHEN matched."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    probe = o.filter(F.col("o_totalprice") > 0).select("o_custkey").distinct()
    return (
        c.join(probe, c.c_custkey == probe.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0).alias("has_order"),
        )
    )


# ----------------------------------------------------------------------
# Anti/semi joins + diff-sync (J8-J10, E1, E4)
# ----------------------------------------------------------------------

@spec(
    "customers_without_orders",
    "J9 E1 E4",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2001-05-01')
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join skip-set (ref scrape_my_channel.py:682-683 'new videos
    only'): left_anti against a pre-filtered build side — at scale this
    broadcasts the (filtered) smaller key set or shares the shuffle
    partitioning of a later merge. The build side is the RECENT orders
    window (last 3 months — 'customers inactive lately'): the original
    unfiltered gate returned ZERO rows at every SF because the testdata
    gives every customer at least one order, so the anti path passed
    vacuously (0 vs 0; round-4 vacuity audit, same class as
    diff_sync_parts); against the window ~2/3 of customers survive the
    anti join into the hash."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-05-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@spec(
    "customers_with_orders",
    "J10",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence semi-join guard (ref import_playlists.py:42-44)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@spec(
    "diff_sync_parts",
    "J8 E1 T1",
    oracle="""
    WITH cur AS (SELECT DISTINCT l_partkey FROM lineitem
                 WHERE l_shipdate <  TIMESTAMP '1995-03-01'),
         des AS (SELECT DISTINCT l_partkey FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '2001-09-01')
    SELECT l_partkey, 'add' AS change FROM des
    WHERE NOT EXISTS (SELECT 1 FROM cur WHERE cur.l_partkey = des.l_partkey)
    UNION ALL
    SELECT l_partkey, 'remove' AS change FROM cur
    WHERE NOT EXISTS (SELECT 1 FROM des WHERE des.l_partkey = cur.l_partkey)
    """,
)
def diff_sync_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff-sync membership (ref main_scraper.py:148-152): to_add/to_remove
    between two snapshot key sets. Uses the single-shuffle union+aggregate
    form (operators.diffsync.diff_keys_single_shuffle) — both snapshots
    must be scanned in full anyway, so one hash aggregate beats the
    two-anti-join plan's four scans and twelve exchanges. The snapshots
    are NARROW date windows from opposite ends of the data (first two /
    last two months): the original half-split cutoff produced two
    IDENTICAL part sets and an empty diff at every SF — a gate passing
    vacuously (0 vs 0) regardless of operator correctness (found in the
    round-4 vacuity audit, same class as the self-joined outer gate);
    with disjoint windows both the add and remove sides carry hundreds
    of rows into the hash (530/467 at sf0.01)."""
    li = _t(spark, sf_dir, "lineitem")
    cur = li.filter(F.col("l_shipdate") < "1995-03-01").select("l_partkey")
    des = li.filter(F.col("l_shipdate") >= "2001-09-01").select("l_partkey")
    return diff_keys_single_shuffle(cur, des, ["l_partkey"])


# ----------------------------------------------------------------------
# Window-shaped ops (W1, W2, W3) + first-seen dedup (E2)
# ----------------------------------------------------------------------

@spec(
    "line_positions",
    "W1",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS BIGINT)
             AS position
    FROM lineitem
    """,
)
def line_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-by-arrival-order (ref scrape_my_channel.py:456-461
    enumerate start=1) via operators.windows.assign_positions."""
    li = _t(spark, sf_dir, "lineitem")
    return assign_positions(li, "l_orderkey", F.col("l_linenumber")).select(
        "l_orderkey", "l_linenumber", "position"
    )


@spec(
    "next_line_position",
    "W2 A7",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(max(l_linenumber) OVER (PARTITION BY l_orderkey) + 1 AS BIGINT)
             AS next_position
    FROM lineitem
    """,
)
def next_line_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX(position)+1 insert slot (ref display.py:305-311) via
    operators.windows.next_position."""
    li = _t(spark, sf_dir, "lineitem")
    return next_position(li, "l_orderkey", "l_linenumber").select(
        "l_orderkey", "l_linenumber", "next_position"
    )


@spec(
    "ordered_part_lists",
    "W3 S14 O6",
    oracle="""
    SELECT l_orderkey,
           string_agg(CAST(l_partkey AS VARCHAR), ','
                      ORDER BY l_linenumber, l_partkey, l_suppkey) AS part_ids
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def ordered_part_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered nested export (ref export_playlists.py:43-47): per-group list
    ordered inside the aggregate (sort_array over collect_list of structs) —
    shuffle-order-independent, rendered to CSV string for the oracle.
    (l_linenumber, l_partkey, l_suppkey) is a total order within an order."""
    li = _t(spark, sf_dir, "lineitem")
    collected = ordered_collect(
        li, "l_orderkey", ["l_linenumber", "l_partkey", "l_suppkey"], "l_partkey",
        out_col="items",
    )
    return collected.select(
        "l_orderkey",
        F.array_join(F.transform(F.col("items"), lambda x: x.cast("string")), ",").alias(
            "part_ids"
        ),
    )


@spec(
    "first_line_per_order",
    "E2",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM lineitem
    QUALIFY row_number() OVER (
      PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) = 1
    """,
)
def first_line_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen dedup with defined total ordering (ref
    scrape_my_channel.py:389-395; SURVEY E2) via operators.dedup."""
    li = _t(spark, sf_dir, "lineitem")
    return dedup_first_seen(
        li,
        ["l_orderkey"],
        [F.col("l_linenumber"), F.col("l_partkey"), F.col("l_suppkey")],
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")


# ----------------------------------------------------------------------
# Staleness / incremental predicates (P10, T2)
# ----------------------------------------------------------------------

@spec(
    "stale_events",
    "P10 T2 P7 F10",
    oracle="""
    SELECT event_id, ts, user_id, event_type
    FROM events
    WHERE ts IS NULL
       OR ts <= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    """,
)
def stale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staleness-gated work set (ref main_scraper.py:345-356): rows older
    than a 7-day threshold or never scraped. The 'now' anchor is max(ts) so
    the query is deterministic for the oracle (current_timestamp is not)."""
    e = _t(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("__mx"))
    return (
        e.crossJoin(F.broadcast(mx))
        .filter(
            F.col("ts").isNull()
            | (F.col("ts") <= F.col("__mx") - F.expr("INTERVAL 7 DAYS"))
        )
        .select("event_id", "ts", "user_id", "event_type")
    )


# ----------------------------------------------------------------------
# Flagship aggregate (TPC-H Q1 shape) — also the bench headline
# ----------------------------------------------------------------------

@spec(
    "pricing_summary",
    "A1 A2 P1 O8",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the flagship hash aggregate. The
    shipdate filter pushes down to the parquet scan; all sums combine
    map-side; doubles rounded to 2dp on both sides so accumulation order
    cannot flip the oracle hash."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2000-12-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


# ----------------------------------------------------------------------
# Batch 2 — joins (J2/J4/J6), sorts (O1/O3/O4), set ops (E3), predicates
# (P7/P12), per-group distinct counts (A9/A10), JSON, scalar functions
# ----------------------------------------------------------------------

@spec(
    "order_lines_detail",
    "J2 P3 P1",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, p_name, l_quantity
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_orderkey = (SELECT min(o_orderkey) FROM orders)
    """,
)
def order_lines_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Videos-of-playlist analog (ref display.py:98-99, web_app.py:50-52):
    FK equality filter + inner equi-join to the dimension. ``part`` is the
    broadcast side; the l_orderkey predicate pushes to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    o = _t(spark, sf_dir, "orders")
    mk = o.agg(F.min("o_orderkey").alias("__mk"))
    return (
        li.join(F.broadcast(mk), li.l_orderkey == F.col("__mk"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "l_linenumber", "l_partkey", "p_name", "l_quantity")
    )


@spec(
    "part_customer_attribution",
    "J4 A2",
    oracle="""
    SELECT l_partkey, count(*) AS n_lines, min(c_name) AS first_customer
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY l_partkey
    """,
)
def part_customer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join with deterministic attribution (ref display.py:548-556;
    the reference's bare-column GROUP BY is nondeterministic, SURVEY §2.11 —
    semantics defined as MIN(c_name))."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_lines"), F.min("c_name").alias("first_customer"))
    )


@spec(
    "recent_lines_enriched",
    "J6 O3 O4 O7",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_name, s_name, l_shipdate
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    ORDER BY l_shipdate DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey
    LIMIT 20
    """,
)
def recent_lines_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered two-dimension join (ref export_playlist_transcripts.py:42-50):
    inner joins + multi-key ordered limit → TakeOrderedAndProject; full
    tie-break chain for cross-engine determinism."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select("l_orderkey", "l_linenumber", "p_name", "s_name", "l_shipdate")
        .orderBy(
            F.desc("l_shipdate"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
            F.asc("p_name"),
            F.asc("s_name"),
        )
        .limit(20)
    )


@spec(
    "nocase_part_names",
    "O1 O7",
    oracle="""
    SELECT p_partkey, p_name FROM part
    ORDER BY lower(p_name), p_partkey
    LIMIT 10
    """,
)
def nocase_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLATE NOCASE sort parity (ref main_scraper.py:98 et al., O1):
    portable lower() sort key + unique tie-break."""
    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", "p_name").orderBy(nocase("p_name"), F.col("p_partkey")).limit(10)


@spec(
    "event_type_union",
    "E3",
    oracle="""
    SELECT event_id, event_type FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, event_type FROM events WHERE event_type = 'error'
    """,
)
def event_type_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of filtered scans (ref add_transcripts.py:218-221 glob union)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "event_type")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "event_type")
    return clicks.unionByName(errors)


@spec(
    "regex_shape_filter",
    "P12 P1",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE regexp_matches(p_name, '^(red|blue) ')
    """,
)
def regex_shape_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """id-shape regex predicate (ref add_transcripts.py:34 11-char id regex,
    display.py:225) — rlike stays inside codegen."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike("^(red|blue) ")).select("p_partkey", "p_name")


@spec(
    "order_status_counts",
    "P7 A10",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE o_orderdate IS NOT NULL
    GROUP BY o_orderstatus
    """,
)
def order_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT NULL predicate + run-report counters (ref display.py:175,
    main_scraper.py:403-407 outcome tallies)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate").isNotNull())
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@spec(
    "order_item_counts",
    "A9",
    oracle="""
    SELECT l_orderkey, count(DISTINCT l_partkey) AS item_count
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def order_item_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """item_count = |distinct members| (ref main_scraper.py:292-299 computes
    it in Python and writes back via S13; here it is one distinct-agg —
    swap to approx_count_distinct at the 100 TB tier)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(F.countDistinct("l_partkey").alias("item_count"))


@spec(
    "event_prop_stats",
    "F-json A8",
    oracle="""
    SELECT event_type,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS BIGINT)), 2) AS avg_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def event_prop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON side-car (SURVEY §1.1 playlists.json / JSONL job
    logs): JSON path extraction inside an aggregate — get_json_object is
    JVM-side, no UDF."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(F.get_json_object("props", "$.k").cast("long")), 2).alias("avg_k"),
            F.count("*").alias("n"),
        )
    )


@spec(
    "hourly_event_rollup",
    "T-window A2",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n,
           ROUND(CAST(SUM(value) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY hour, event_type
    """,
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (streaming extension, SURVEY §2.9): the batch
    twin of the Structured Streaming windowed agg in streaming.inbox —
    date_trunc keeps it a plain hash aggregate."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@spec(
    "sessionized_events",
    "T-session W1",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) > 1800
                    THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM e
    """,
)
def sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative sum of
    session-start flags — one shuffle on user_id shared by both windows."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("__new", new_sess)
        .withColumn(
            "session_id",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        .select("event_id", "user_id", "session_id")
    )


@spec(
    "latest_user_status",
    "S17 T3",
    oracle="""
    SELECT user_id, event_type AS latest_status, ts AS status_ts
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def latest_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit-log current status (ref main_scraper.py:276-316 ping state
    machine: status = latest event per key) — row_number desc over the log."""
    e = _t(spark, sf_dir, "events")
    return dedup_first_seen(
        e, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", F.col("event_type").alias("latest_status"), F.col("ts").alias("status_ts"))


@spec(
    "line_durations",
    "F1 F14",
    oracle="""
    WITH s AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             CAST(FLOOR(l_quantity * 937) AS BIGINT) AS sec
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CASE WHEN sec IS NULL THEN 'Unknown' ELSE concat_ws(' ',
             CASE WHEN sec // 3600 > 0
                  THEN CAST(sec // 3600 AS VARCHAR) || 'h' END,
             CASE WHEN sec // 3600 > 0 OR (sec % 3600) // 60 > 0
                  THEN CAST((sec % 3600) // 60 AS VARCHAR) || 'm' END,
             CAST(sec % 60 AS VARCHAR) || 's') END AS duration_display
    FROM s
    """,
)
def line_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """format_duration as a pure Column expression (ref display.py:195-207)
    applied to synthesized second counts — proves F1 needs no Python UDF."""
    li = _t(spark, sf_dir, "lineitem")
    sec = F.floor(F.col("l_quantity") * 937).cast("long")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        format_duration(sec).alias("duration_display"),
    )


@spec(
    "extracted_video_ids",
    "F2 F3",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://www.youtube.com/watch?v=' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 11)
               || '&t=42' AS url
      FROM documents
    )
    SELECT doc_id, url, substr(md5(CAST(doc_id AS VARCHAR)), 1, 11) AS video_id
    FROM u
    """,
)
def extracted_video_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_video_id regex cascade (ref display.py:209-228): synthesize
    watch URLs from md5(doc_id) (identical in both engines), then recover
    the id with the engine's expression — the oracle recomputes it directly."""
    d = _t(spark, sf_dir, "documents")
    vid = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 11)
    url = F.concat(F.lit("https://www.youtube.com/watch?v="), vid, F.lit("&t=42"))
    return d.select(
        "doc_id", url.alias("url"), extract_video_id(url).alias("video_id")
    )


@spec(
    "doc_search_snippets",
    "P5 F5 F6 J5",
    oracle="""
    WITH hits AS (
      SELECT doc_id, text, strpos(lower(text), 'vector') AS pos
      FROM documents
      WHERE strpos(lower(text), 'vector') > 0
    ),
    snip AS (
      SELECT doc_id,
             substring(text, greatest(pos - 40, 1), 6 + 80) AS snippet
      FROM hits
    )
    SELECT doc_id, snippet,
           replace(snippet, 'vector', '**vector**') AS snippet_highlighted
    FROM snip
    """,
)
def doc_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript full-text search analog (ref display.py:585-620): LIKE
    scan + ±40-char context snippet + literal highlight, all Column exprs."""
    d = _t(spark, sf_dir, "documents")
    snip = context_snippet("text", "vector", radius=40)
    return (
        d.filter(ci_contains("text", "vector"))
        .select("doc_id", snip.alias("snippet"))
        .withColumn("snippet_highlighted", highlight(F.col("snippet"), "vector"))
    )


@spec(
    "sanitized_filenames",
    "F7 S15",
    oracle="""
    SELECT p_partkey,
           COALESCE(NULLIF(substring(regexp_replace(trim(replace(p_name, ' ', '/')),
                    '[\\\\/*?:"<>|]', '_', 'g'), 1, 100), ''), 'untitled') AS filename
    FROM part
    """,
)
def sanitized_filenames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sanitize_filename (ref export_playlist_transcripts.py:57-64) over
    names with injected path separators."""
    p = _t(spark, sf_dir, "part")
    dirty = F.replace(F.col("p_name"), F.lit(" "), F.lit("/"))
    return p.select("p_partkey", sanitize_filename(dirty).alias("filename"))


@spec(
    "iso_export_dates",
    "F8 F9 F17 S14",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
           strftime(o_orderdate, '%Y-%m-%d') AS ymd
    FROM orders
    """,
)
def iso_export_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 render at the export edge (ref youtube_utils.py:92):
    timestamps stay typed inside the engine, strings only at the sink."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
    )


@spec(
    "display_price_labels",
    "F12 F13 F16",
    oracle="""
    SELECT o_orderkey,
           format('{:,}', CAST(FLOOR(o_totalprice) AS BIGINT)) AS price_display,
           CASE WHEN o_totalprice > 200000
                THEN '✅ ' || COALESCE(NULLIF(trim(o_orderpriority), ''),
                                       'ID: ' || CAST(o_orderkey AS VARCHAR))
                ELSE COALESCE(NULLIF(trim(o_orderpriority), ''),
                              'ID: ' || CAST(o_orderkey AS VARCHAR)) END AS label
    FROM orders
    """,
)
def display_price_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thousands formatting (ref display.py:505) + conditional display-name
    concat with blank fallback (ref gui_app.py:43-46)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        format_thousands(F.floor(F.col("o_totalprice")).cast("long")).alias("price_display"),
        display_name(
            F.col("o_orderpriority"),
            F.col("o_orderkey"),
            (F.col("o_totalprice") > 200000).cast("int"),
        ).alias("label"),
    )


@spec(
    "extracted_page_refs",
    "S4 E2",
    oracle="""
    WITH hits AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '([A-Za-z]{6,})', 1)) AS ref,
             generate_subscripts(regexp_extract_all(text, '([A-Za-z]{6,})', 1), 1) AS seen_seq
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, ref,
             row_number() OVER (PARTITION BY doc_id, ref ORDER BY seen_seq) AS rn
      FROM hits
    )
    SELECT doc_id, ref FROM ranked WHERE rn = 1
    """,
)
def extracted_page_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S4 page-scrape composition (ref scrape_my_channel.py:375-400) on
    testdata: regexp_extract_all → posexplode → length guard → first-seen
    dedup (E2), exactly the ``sources.html_playlists`` operator shape. The
    dedup window partitions by (doc, ref) so order within a document is
    deterministic and oracle-reproducible. The length guard is 6+
    letters: the reference's 9+ id-shape guard matched NOTHING in the
    synthetic corpus (short-word vocabulary), so the gate compared two
    empty sets (round-4 vacuity audit); at 6+ the extraction carries
    ~2.3k (doc, ref) pairs into the hash at sf0.01."""
    from .operators.dedup import dedup_first_seen

    d = _t(spark, sf_dir, "documents")
    exploded = d.select(
        "doc_id",
        F.posexplode(F.regexp_extract_all("text", F.lit(r"([A-Za-z]{6,})"), 1)).alias(
            "seen_seq", "ref"
        ),
    )
    return dedup_first_seen(exploded, ["doc_id", "ref"], [F.col("seen_seq")]).select(
        "doc_id", "ref"
    )


# ----------------------------------------------------------------------
# Batch 3 — LLM-training-data pipeline operators (BASELINE.json north
# star): text analysis, dedup (exact/Jaccard/MinHash/SimHash), similarity
# search, multimodal metadata
# ----------------------------------------------------------------------

#: union of all stopword lists as a SQL array literal (for oracle parity).
def _sql_list(words) -> str:
    return "[" + ", ".join("'" + w + "'" for w in words) + "]"


_ALL_STOPS = [w for lang in llm_text.LANG_PRIORITY for w in llm_text.STOPWORDS[lang]]

#: shared oracle CTE: whitespace tokens of each document.
_TOK_CTE = """
    tok AS (
      SELECT doc_id,
             list_filter(
               CASE WHEN trim(COALESCE(text, '')) = ''
                    THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(COALESCE(text, '')),
                                               '[ \\t\\n\\x0B\\f\\r]+') END,
               w -> w <> '') AS t
      FROM documents
    )
"""
# list_filter: SQL trim strips SPACES only, so tab/newline-led text
# splits with a leading '' — the engine kernels (py_tokens) and
# word_vocab drop it; the oracle must too or edge-whitespace text
# hash-mismatches (caught by tests/test_oracle_edge_text.py).


@spec(
    "doc_token_stats",
    "LLM-text",
    oracle=f"""
    WITH {_TOK_CTE}
    SELECT tok.doc_id,
           CAST(len(t) AS BIGINT) AS token_count,
           CAST(len(regexp_extract_all(d.text,
                '[A-Za-z]{{1,4}}|[0-9]{{1,3}}|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS BIGINT)
             AS bpe_pieces,
           FLOOR((CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1)) * 10000) / 10000.0
             AS ttr,
           CASE WHEN len(t) = 0 THEN 0.0 ELSE FLOOR((
             0.4 * least(len(t) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1))
             + 0.3 * (CAST(len(list_intersect(list_distinct(t), {_sql_list(_ALL_STOPS)})) AS DOUBLE)
                      / greatest(len(list_distinct(t)), 1))) * 10000) / 10000.0 END AS quality
    FROM tok JOIN documents d ON tok.doc_id = d.doc_id
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish sub-word pieces) + quality
    scoring (length credit, type-token ratio, stopword prior) — pure
    Column exprs, zero Python in the scan stage."""
    d = _t(spark, sf_dir, "documents")
    # NULL text scores like '' (token stats are total); bpe_pieces stays
    # NULL-propagating on both sides (regexp_extract_all of NULL)
    txt = F.coalesce(F.col("text"), F.lit(""))
    tok = llm_text.tokens(txt)
    n = F.size(tok)
    nd = F.size(F.array_distinct(tok))
    return d.select(
        "doc_id",
        llm_text.token_count(txt).alias("token_count"),
        llm_text.bpe_piece_count("text").alias("bpe_pieces"),
        llm_text.trunc4(nd / F.greatest(n, F.lit(1))).alias("ttr"),
        llm_text.quality_score(txt).alias("quality"),
    )


def _votes_sql(lang: str) -> str:
    return (
        f"len(list_intersect(list_distinct(t), {_sql_list(llm_text.STOPWORDS[lang])}))"
    )


_LANG_CASE = "CASE "
for _lang in llm_text.LANG_PRIORITY:
    _others = " AND ".join(
        f"{_votes_sql(_lang)} >= {_votes_sql(o)}"
        for o in llm_text.LANG_PRIORITY
        if o != _lang
    )
    _LANG_CASE += f"WHEN {_others} THEN '{_lang}' "
_LANG_CASE += "ELSE 'en' END"


@spec(
    "doc_lang_id",
    "LLM-langid",
    oracle=f"""
    WITH {_TOK_CTE}
    SELECT doc_id, {_LANG_CASE} AS lang_pred
    FROM tok
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (argmax with fixed priority on ties)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", llm_text.lang_id("text").alias("lang_pred"))


@spec(
    "doc_fingerprints",
    "LLM-fingerprint",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS nt
      FROM documents
    ),
    tok AS (
      SELECT doc_id, nt,
             CASE WHEN trim(nt) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(nt), ' ') END AS t
      FROM norm
    )
    SELECT doc_id,
           md5(nt) AS content_fp,
           CASE WHEN len(t) >= 3 THEN
             list_aggregate(list_transform(
               list_distinct(list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
               s -> md5(s)), 'min')
           ELSE NULL END AS shingle_fp
    FROM tok
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized content (exact-dup key)
    + winnowing-style min-shingle hash (near-dup stable representative).

    The min-shingle hash runs as explode + min() hash-aggregate so the md5
    stays in whole-stage codegen (the higher-order-function form runs
    interpreted, ~5× slower); docs shorter than k tokens fall out of the
    aggregate and rejoin as NULL."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", llm_text.content_fingerprint("text").alias("content_fp"))
    # fan the single-split scan out before the compute-heavy shingle stage
    spread = d.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh_agg = (
        llm_text.shingle_rows(spread, "doc_id", "text", k=3, out_id="doc_id")
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.col("shingle").cast("binary"))).alias("shingle_fp"))
    )
    return base.join(sh_agg, "doc_id", "left").select(
        "doc_id", "content_fp", "shingle_fp"
    )


@spec(
    "exact_dedup_docs",
    "LLM-dedup-exact",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS content_fp
      FROM documents
    )
    SELECT doc_id, content_fp,
           CAST(count(*) OVER (PARTITION BY content_fp) AS BIGINT) AS dup_count,
           CAST(CASE WHEN row_number() OVER (PARTITION BY content_fp ORDER BY doc_id) = 1
                     THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
    FROM fp
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: per-row fingerprint, group
    size, canonical flag (lowest id wins). Shuffles 16-byte hashes, never
    document bodies — the property that matters at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    return llm_dedup.exact_dedup_flags(d, "doc_id", "text")


@spec(
    "ngram_jaccard_pairs",
    "LLM-dedup-jaccard",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS nt
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             CASE WHEN trim(nt) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(nt), ' ') END AS t
      FROM norm
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_distinct(list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             ELSE CAST([] AS VARCHAR[]) END AS s
      FROM tok
    ),
    sized AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, n, unnest(s) AS g FROM sized),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS shared, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 4) AS jaccard
    FROM pairs
    WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.4
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via AllPairs prefix filtering
    (rarest-first global shingle order; only each doc's prefix is indexed,
    so frequent shingles never generate candidates) with exact
    array_intersect verification — lossless, and the O(n²) cross join
    never happens."""
    d = _t(spark, sf_dir, "documents")
    return llm_dedup.jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.4)


@spec(
    "embedding_cosine_topk",
    "LLM-sim-topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT vec_id,
             ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
                   (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM embeddings, q
    )
    SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact-recall ANN baseline): broadcast
    the query vector, one corpus scan, TakeOrderedAndProject for the k."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    return llm_similarity.cosine_topk(e, q, k=10)


@spec(
    "embedding_knn_join",
    "LLM-sim-knn",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT query_id, e.vec_id AS cand_id,
             ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv) /
                   (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id != query_id
    )
    SELECT query_id, cand_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def embedding_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: per-query top-k via broadcast cross join + window rank —
    the re-rank stage every ANN pipeline ends with."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return llm_similarity.knn_join(e, queries, k=3)


@spec(
    "embedding_near_dups",
    "LLM-dedup-embed",
    oracle="""
    WITH u AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))) AS uv
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.uv, b.uv), 4) AS cos_sim
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.uv, b.uv) >= 0.4
    """,
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact formulation, unit-normalized
    before the pair join so each pair costs one dot product; the LSH
    variant lsh_near_dups is the subquadratic scale path)."""
    e = _t(spark, sf_dir, "embeddings")
    return llm_similarity.near_dup_pairs(e, threshold=0.4)


@spec(
    "multimodal_meta",
    "LLM-multimodal",
    oracle="""
    SELECT doc_id AS asset_id,
           'image' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS sha256
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal asset wrapping: opaque binary payload + typed metadata
    (byte length, content hash) — the JVM-side half of the media pipeline;
    decode kernels live in llm.multimodal as Arrow-batched stages."""
    d = _t(spark, sf_dir, "documents")
    media = llm_multimodal.attach_binary(d, "doc_id", "text", "image")
    return media.select("asset_id", "media_type", "byte_len", "sha256")


# --- portable-hash LSH gates (round 6: fully oracle-replayed md5 hash
# families — the former rows-only class is gone; xxhash64/gaussian stay
# the production defaults and keep their coverage via the recall gates)

def _cloned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact clones with shifted ids — a corpus with known
    duplicates so recall of the approximate dedup paths is observable."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return d.unionByName(clones)


#: Shared oracle CTE: the portable (md5-derived) hyperplane buckets over
#: embeddings — the literal SQL twin of llm.similarity.portable_hyperplanes
#: + lsh_signature(round_dp=6) with n_planes=4, dim=64. 2^60 =
#: 1152921504606846976; both engines round the same 60-bit integer to the
#: same IEEE double and the power-of-two division is exact, so the plane
#: coefficients are bit-identical; the 6dp rounding before the sign test
#: absorbs summation-order jitter (~1e-13) between the engines.
_PORTABLE_PLANES_CTE = r"""
    pl AS (
      SELECT p.p AS p, d.d AS d,
             ('0x' || substr(md5(p.p || ':' || d.d), 1, 15))::BIGINT
               / 1152921504606846976.0 - 0.5 AS c
      FROM (SELECT unnest(generate_series(0, 3)) AS p) p
           CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) d
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    dots AS (
      SELECT vec_id, pl.p AS p, ROUND(SUM(ev[pl.d + 1] * pl.c), 6) AS dp
      FROM v, pl
      GROUP BY vec_id, pl.p
    ),
    buck AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dp > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id
    )
"""


def _minhash_band_pipeline_ctes(corpus_sql: str) -> str:
    """norm → tok → sh → hh → mh → sig → bands → cand → est: the literal
    DuckDB twin of llm/dedup.py ``minhash_signatures(portable=True)`` +
    ``minhash_band_table(num_hashes=32, bands=16)`` +
    ``lsh_pairs_from_index`` over an arbitrary ``corpus (doc, text)``
    CTE — shared by the LSH listing gate and the round-10 index
    persistence/fold gates so the replay lives ONCE."""
    return f"""corpus AS ({corpus_sql}),
    norm AS (
      SELECT doc, regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS nt FROM corpus
    ),
    tok AS (
      SELECT doc, regexp_split_to_array(trim(nt), ' ') AS ts
      FROM norm WHERE trim(nt) <> ''
        AND len(regexp_split_to_array(trim(nt), ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM (SELECT doc, ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM tok)
    ),
    hh AS (
      SELECT doc,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 17, 15))::BIGINT AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc, s.i AS i,
             min((h1 + ((s.i * (h2 >> 30)) % 1073741824) * 1073741824
                  + s.i * (h2 & 1073741823)) % 1152921504606846976) AS h
      FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) s
      GROUP BY doc, s.i
    ),
    sig AS (SELECT doc, list(h ORDER BY i) AS sg FROM mh GROUP BY doc),
    bands AS (
      SELECT doc, b.b AS band,
             (((1000003 * (sg[2*b.b + 1] >> 30)) % 1073741824) * 1073741824
              + 1000003 * (sg[2*b.b + 1] & 1073741823)
              + sg[2*b.b + 2]) % 1152921504606846976 AS bucket
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) b
    ),
    cand AS (
      SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc < y.doc
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             FLOOR(list_sum(list_transform(generate_series(1, 32),
                     i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 32.0
                   * 10000 + 0.5) / 10000 AS est_jaccard
      FROM cand c JOIN sig a ON a.doc = c.doc_a JOIN sig b ON b.doc = c.doc_b
    )"""


@spec(
    "minhash_lsh_dups",
    "LLM-dedup-minhash",
    oracle="WITH " + _minhash_band_pipeline_ctes(
        """SELECT doc_id AS doc, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc, text FROM documents"""
    ) + """
    SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
    """,
)
def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs on a corpus with 1 known clone per doc
    (every clone pair must surface with est_jaccard 1.0). Portable md5
    hash family + literal band-slice buckets (llm/dedup.py
    ``_portable_hash``), so the ENTIRE pipeline — shingle → 32 seeded
    minhashes → 16-band buckets → candidate join → estimate — is replayed
    value-for-value by the DuckDB oracle. FLOOR(x*10^4 + 0.5)/10^4 in the
    oracle mirrors F.round's HALF_UP on the exactly-representable k/32
    estimates (banker's rounding would flip every odd k)."""
    corpus = _cloned_docs(spark, sf_dir)
    pairs = llm_dedup.minhash_lsh_pairs(
        corpus, "doc_id", "text", num_hashes=32, bands=16, portable=True
    )
    return pairs.filter(F.col("est_jaccard") >= 0.5)


@spec(
    "tfidf_cosine_pairs",
    "EXT-tfidf LLM-dedup-jaccard LLM-sim",
    oracle=f"""
    WITH {_TOK_CTE},
    occ AS (SELECT doc_id AS d, w FROM tok, unnest(t) AS u(w)),
    tf AS (SELECT d, w, CAST(COUNT(*) AS BIGINT) AS tf FROM occ GROUP BY d, w),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
    dft AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    kept AS (
      SELECT w, CAST(FLOOR(1000.0 * ln(n / df) + 0.5) AS BIGINT) AS qidf
      FROM dft, nd WHERE df * 10 <= n AND df <= 256
    ),
    wt AS (
      SELECT d, tf.w, tf.tf * kept.qidf AS wq
      FROM tf JOIN kept ON tf.w = kept.w
    ),
    nrm AS (SELECT d, sqrt(SUM(wq * wq)) AS nrm FROM wt GROUP BY d),
    dots AS (
      SELECT a.d AS doc_a, b.d AS doc_b, SUM(a.wq * b.wq) AS dot
      FROM wt a JOIN wt b ON a.w = b.w AND a.d < b.d
      GROUP BY a.d, b.d
    )
    SELECT doc_a, doc_b,
           ROUND(dot / (na.nrm * nb.nrm), 4) AS cos_sim
    FROM dots JOIN nrm na ON doc_a = na.d JOIN nrm nb ON doc_b = nb.d
    WHERE ROUND(dot / (na.nrm * nb.nrm), 4) >= 0.3
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF document similarity via an INVERTED INDEX
    (llm/rarity.py tfidf_cosine_pairs) — the fuzzy-dedup path that
    needs no embeddings, completing the near-dup toolbox next to
    MinHash/SimHash/n-gram-Jaccard/embedding-cosine: per-(doc, term)
    weights are INTEGERS (tf · floor(1000·ln(N/df)+½)), so the pair dot
    products are order-free integer sums the oracle replays exactly;
    only the final norm division is float, rounded to 4dp before the
    threshold on BOTH sides. The prune is TWO-SIDED: stop-terms
    (df > N/10, the semantic cut) AND long inverted lists (df > 256,
    the COST bound — pair fan-out is df² per term, and the ×20 scale
    probe measured 2682× before this cap existed: disjoint-vocabulary
    corpus growth drops every df/N ratio while list lengths hold, so a
    relative prune alone degenerates to all-pairs). Both cuts replay in
    the oracle; at 100 TB prefix filtering — ngram_jaccard_pairs'
    device — is the further pruning step if thresholds rise."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    return llm_rarity.tfidf_cosine_pairs(
        d, "doc_id", "text", threshold=0.3
    )


@spec(
    "simhash_dups",
    "LLM-dedup-simhash",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id AS doc, COALESCE(text, '') AS text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc, COALESCE(text, '') AS text FROM documents
    ),
    toks AS (
      SELECT doc, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT doc, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+')) AS tok
        FROM corpus
      )
      WHERE tok <> ''
      GROUP BY doc, tok
    ),
    h AS (
      SELECT doc, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv, cnt FROM toks
    ),
    votes AS (
      SELECT doc, b.i AS i,
             sum(CASE WHEN (hv >> b.i) & 1 = 1 THEN cnt ELSE -cnt END) AS v
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) b
      GROUP BY doc, b.i
    ),
    sigp AS (
      SELECT doc,
             CAST(sum(CASE WHEN v > 0 THEN (1::UBIGINT << i)
                           ELSE 0::UBIGINT END) AS UBIGINT) AS su
      FROM votes GROUP BY doc
    ),
    sigs AS (
      SELECT d.doc, COALESCE(s.su, 0::UBIGINT) AS su
      FROM (SELECT DISTINCT doc FROM corpus) d LEFT JOIN sigp s ON d.doc = s.doc
    ),
    bk AS (SELECT doc, su, su >> 48 AS bucket FROM sigs)
    SELECT x.doc AS doc_a, y.doc AS doc_b,
           CAST(bit_count(xor(x.su, y.su)) AS INTEGER) AS hamming
    FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.doc < y.doc
    WHERE bit_count(xor(x.su, y.su)) <= 3
    """,
)
def simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (hamming ≤ 3 within 16-bit prefix
    buckets) on the cloned corpus. The signature stage is an Arrow kernel
    (llm/dedup.py ``_simhash64``), but its arithmetic is all md5-derived —
    the oracle replays token md5s → 64 weighted bit-votes → signature →
    prefix bucket join → popcount hamming entirely in SQL, turning the
    former rows-only row into a full value-hash check."""
    corpus = _cloned_docs(spark, sf_dir)
    sig = llm_dedup.simhash_signatures(corpus, "doc_id", "text")
    return llm_dedup.simhash_bucket_pairs(sig, prefix_bits=16).filter(
        F.col("hamming") <= 3
    )


@spec(
    "lsh_near_dups",
    "LLM-dedup-embed-lsh",
    oracle="WITH "
    + _PORTABLE_PLANES_CTE
    + r""",
    u AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))) AS uv
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, ROUND(list_dot_product(ua.uv, ub.uv), 4) AS cos_sim
    FROM cand c JOIN u ua ON ua.vec_id = c.vec_a JOIN u ub ON ub.vec_id = c.vec_b
    WHERE list_dot_product(ua.uv, ub.uv) >= 0.4
    """,
)
def lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquadratic embedding near-dup pairs: hyperplane-bucket candidate
    pruning + exact cosine verify within buckets — the 100 TB path whose
    exact twin is embedding_near_dups. Portable md5-derived planes
    (llm/similarity.py ``portable_hyperplanes``) make the bucket
    assignment SQL-replayable, so the driver hash-checks the full pair
    list; the gaussian-plane production path keeps its oracle-gated
    recall check (lsh_near_dup_recall)."""
    e = _t(spark, sf_dir, "embeddings")
    return llm_similarity.lsh_near_dup_pairs(
        e, dim=64, threshold=0.4, n_planes=4, plane_family="portable"
    )


@spec(
    "lsh_ann_topk",
    "LLM-sim-ann",
    oracle="WITH "
    + _PORTABLE_PLANES_CTE
    + r""",
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
    scored AS (
      SELECT v.vec_id,
             ROUND(list_dot_product(v.ev, q.qv) /
                   (sqrt(list_dot_product(v.ev, v.ev))
                    * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
      FROM v, q, qb, buck b
      WHERE b.vec_id = v.vec_id AND b.bucket = qb.bucket
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k for one query: hyperplane-signature bucket
    probe + exact re-rank. Portable md5-derived planes → the probe set
    and the re-ranked top-k are both SQL-replayed (full value-hash
    check); recall of the gaussian production family stays asserted by
    lsh_ann_recall."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    return llm_similarity.lsh_ann_topk(
        e, q, dim=64, k=10, n_planes=4, plane_family="portable"
    )


# --- recall gates for the approximate paths ---------------------------
#
# The four rows-only specs above exercise hash pipelines DuckDB cannot
# reproduce (xxhash64 / md5-vote / numpy-seeded planes). These companion
# queries reduce each approximate output to an oracle-checkable scalar:
# recall against the exact twin (which IS SQL-expressible), plus the
# subset/precision invariant where it holds by construction. A recall
# regression (or a broken hash pipeline) flips a boolean and fails the
# driver's value-hash compare.


@spec(
    "minhash_lsh_recall",
    "LLM-dedup-minhash",
    oracle=r"""
    WITH norm AS (
      SELECT regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS nt
      FROM documents
    ),
    elig AS (
      SELECT count(*) AS n FROM norm
      WHERE trim(nt) <> '' AND len(regexp_split_to_array(trim(nt), ' ')) >= 3
    )
    SELECT CAST(n AS BIGINT) AS clone_pairs,
           CAST(n AS BIGINT) AS found_pairs,
           TRUE AS recall_ok
    FROM elig
    """,
)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable MinHash+LSH recall: on the cloned corpus every
    clone pair has identical shingle sets → identical signatures → all
    bands collide, so recall over eligible docs (≥ 1 3-shingle) is
    EXACTLY 1 — found_pairs must equal clone_pairs, and the oracle can
    predict both counts in SQL."""
    corpus = _cloned_docs(spark, sf_dir)
    pairs = llm_dedup.minhash_lsh_pairs(
        corpus, "doc_id", "text", num_hashes=32, bands=16
    ).filter(F.col("est_jaccard") >= 0.5)
    d = _t(spark, sf_dir, "documents")
    # ≥1 3-shingle ⟺ ≥3 tokens; the token-count predicate avoids the
    # expression-context shingles() form, whose inlined element_at
    # trees re-evaluate the tokenizer per shingle position (the 5-9×
    # slow path llm/text.py:168 documents) — measured 22 s → ~2 s for
    # this gate at sf0.1 when it joined the bench headline list.
    # expected feeds the clone-pair count AND the semi-join probe; the
    # un-cached form re-ran the tokenize+filter scan for each (r13 opt
    # round: one pass over the corpus, ~doc-count bounded rows; lazy
    # persist, not an eager checkpoint — no extra serialized job)
    expected = d.filter(
        F.size(llm_text.tokens(llm_text.normalize(F.col("text")))) >= 3
    ).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_b"),
    ).persist()
    found = expected.join(pairs, ["doc_a", "doc_b"], "left_semi")
    return (
        expected.agg(F.count("*").alias("clone_pairs"))
        .crossJoin(found.agg(F.count("*").alias("found_pairs")))
        .select(
            "clone_pairs",
            "found_pairs",
            (F.col("found_pairs") == F.col("clone_pairs")).alias("recall_ok"),
        )
    )


@spec(
    "simhash_recall",
    "LLM-dedup-simhash",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS clone_pairs,
           CAST(count(*) AS BIGINT) AS found_pairs,
           TRUE AS recall_ok
    FROM documents
    """,
)
def simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable SimHash recall: identical clone texts hash to
    identical 64-bit signatures (hamming 0, same prefix bucket), so every
    one of the count(documents) clone pairs must surface — deterministic
    full recall the oracle predicts from the row count alone."""
    corpus = _cloned_docs(spark, sf_dir)
    sig = llm_dedup.simhash_signatures(corpus, "doc_id", "text")
    pairs = llm_dedup.simhash_bucket_pairs(sig, prefix_bits=16).filter(
        F.col("hamming") <= 3
    )
    d = _t(spark, sf_dir, "documents")
    expected = d.select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_b"),
    )
    found = expected.join(pairs, ["doc_a", "doc_b"], "left_semi")
    return (
        expected.agg(F.count("*").alias("clone_pairs"))
        .crossJoin(found.agg(F.count("*").alias("found_pairs")))
        .select(
            "clone_pairs",
            "found_pairs",
            (F.col("found_pairs") == F.col("clone_pairs")).alias("recall_ok"),
        )
    )


@spec(
    "lsh_near_dup_recall",
    "LLM-dedup-embed-lsh",
    oracle="""
    WITH u AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))) AS uv
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM u a JOIN u b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.uv, b.uv) >= 0.4
    )
    SELECT CAST(count(*) AS BIGINT) AS exact_pairs,
           TRUE AS subset_ok,
           TRUE AS recall_ok
    FROM p
    """,
)
def lsh_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH near-dup recall vs the exact twin: the bucketed
    path (n_planes=4, probe_bits=2) must stay a strict subset of the
    exact pair set (precision 1 — both sides apply the identical cosine
    filter) and recover ≥ 70% of it (measured 0.81/0.88 at sf0.01/0.001;
    deterministic: seeded planes over fixed data)."""
    e = _t(spark, sf_dir, "embeddings")
    exact = llm_similarity.near_dup_pairs(e, threshold=0.4).select("vec_a", "vec_b")
    approx = llm_similarity.lsh_near_dup_pairs(
        e, dim=64, threshold=0.4, n_planes=4, probe_bits=2
    ).select("vec_a", "vec_b")
    inter = approx.join(exact, ["vec_a", "vec_b"], "left_semi")
    return (
        exact.agg(F.count("*").alias("exact_pairs"))
        .crossJoin(approx.agg(F.count("*").alias("approx_cnt")))
        .crossJoin(inter.agg(F.count("*").alias("found_cnt")))
        .select(
            "exact_pairs",
            (F.col("found_cnt") == F.col("approx_cnt")).alias("subset_ok"),
            (F.col("found_cnt") >= 0.7 * F.col("exact_pairs")).alias("recall_ok"),
        )
    )


@spec(
    "lsh_ann_recall",
    "LLM-sim-ann",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS returned, TRUE AS recall_ok
    """,
)
def lsh_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN recall@10 vs brute-force top-10 for the
    vec_id=0 query: probing the query bucket + its 1- and 2-bit-flip
    neighbors must return a full k and hit ≥ 6 of the exact top-10
    (measured 8/10 at both sf0.01 and sf0.001; deterministic)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    ann10 = llm_similarity.lsh_ann_topk(
        e, q, dim=64, k=10, n_planes=4, probe_bits=2
    ).select("vec_id")
    hits = ann10.join(exact10, ["vec_id"], "left_semi")
    return (
        ann10.agg(F.count("*").alias("returned"))
        .crossJoin(hits.agg(F.count("*").alias("hit_cnt")))
        .select("returned", (F.col("hit_cnt") >= 6).alias("recall_ok"))
    )


#: The IVF batch-search replay, shared by the batch gate
#: (``ivf_ann_topk``) and the streaming-ingest gate
#: (``stream_ivf_ingest``) — the stream fold is exact, so the drained
#: index's search replays through the SAME SQL.
def _ivf_topk_oracle(corpus_where: str = "") -> str:
    """The IVF build+search DuckDB replay, parameterized on a corpus
    filter: centroids stay the FROZEN full-corpus seeds (deletes never
    retrain them — the store contract), while the indexed rows take the
    filter; the delete-equivalence gate replays over the REMAINING
    rows with it."""
    return f"""
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 16),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings{
        f" WHERE {corpus_where}" if corpus_where else ""}),
    scored AS (
      SELECT e.vec_id, e.v, c.cid,
             ROUND(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))), 6) AS acos
      FROM e CROSS JOIN c
    ),
    asn AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY acos DESC, cid) AS rn
        FROM scored) WHERE rn = 1
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT c.cid FROM c CROSS JOIN q
      ORDER BY ROUND(list_dot_product(qv, c.cv) /
                     (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid
      LIMIT 4
    )
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, qv) /
                 (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
    FROM asn a JOIN probe USING (cid) CROSS JOIN q
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT 10
    """


_IVF_ANN_TOPK_ORACLE = _ivf_topk_oracle()


@spec(
    "ivf_ann_topk",
    "LLM-sim-ann-ivf",
    oracle=_IVF_ANN_TOPK_ORACLE,
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-k: deterministic seed centroids (lowest-id
    vectors), map-side cluster assignment, nprobe=4 broadcast probe, exact
    re-rank within probed lists. Unlike the numpy-seeded LSH variant this
    is fully oracle-checkable — the entire index build is expressible in
    SQL over the same table."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    return llm_similarity.ivf_ann_topk(e, q, n_centroids=16, nprobe=4, k=10)


@spec(
    "ivf_kmeans_recall",
    "LLM-sim-ann-ivf",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS returned, TRUE AS recall_ok
    """,
)
def ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with spherical-k-means-refined centroids
    (``kmeans_centroids``, 2 Lloyd iterations from the deterministic
    lowest-id seeds): recall@10 vs brute-force top-10 for the vec_id=0
    query must return a full k and hit ≥ 6 of the exact top-10 (measured
    9/10 at sf0.01 and 10/10 at sf0.1; run-stable because centroid
    components are rounded to 9dp after normalization — see
    llm/similarity.py kmeans_centroids). The refinement itself is not
    SQL-expressible (iterative), so the oracle checks the reduced recall
    scalar, like lsh_ann_recall."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    km = llm_similarity.kmeans_centroids(e, n_centroids=16, n_iter=2)
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    ann10 = llm_similarity.ivf_ann_topk(
        e, q, n_centroids=16, nprobe=4, k=10, centroids=km
    ).select("vec_id")
    hits = ann10.join(exact10, ["vec_id"], "left_semi")
    return (
        ann10.agg(F.count("*").alias("returned"))
        .crossJoin(hits.agg(F.count("*").alias("hit_cnt")))
        .select("returned", (F.col("hit_cnt") >= 6).alias("recall_ok"))
    )


@spec(
    "incremental_ivf_equiv",
    "LLM-sim-ann-ivf EXT-ann-incr",
    oracle="""
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 20 AND vec_id % 5 != 4),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT e.vec_id, e.v, c.cid,
             ROUND(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))), 6) AS acos
      FROM e CROSS JOIN c
    ),
    asn AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY acos DESC, cid) AS rn
        FROM scored) WHERE rn = 1
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT c.cid FROM c CROSS JOIN q
      ORDER BY ROUND(list_dot_product(qv, c.cv) /
                     (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid
      LIMIT 4
    ),
    topk AS (
      SELECT a.vec_id,
             ROUND(list_dot_product(a.v, qv) /
                   (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM asn a JOIN probe USING (cid) CROSS JOIN q
      ORDER BY cos_sim DESC, a.vec_id
      LIMIT 10
    ),
    exact10 AS (
      SELECT e.vec_id FROM e CROSS JOIN q
      ORDER BY ROUND(list_dot_product(e.v, qv) /
                     (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(qv, qv))), 4) DESC, e.vec_id
      LIMIT 10
    ),
    hits AS (SELECT CAST(COUNT(*) AS BIGINT) AS recall_hits
             FROM topk JOIN exact10 USING (vec_id))
    SELECT t.vec_id, t.cos_sim, TRUE AS equiv_consistent, h.recall_hits
    FROM topk t, hits h
    """,
)
def incremental_ivf_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index maintenance (r07 verdict item 3) — the
    ``incremental_rollup_equiv`` two-batch device applied to ANN: the
    corpus splits into a base (vec_id%5≠4) and a new daily batch
    (vec_id%5=4); centroids are frozen from the BASE (its 16 lowest
    ids), the batch folds into the existing inverted lists with ONE
    map-only assignment pass over the NEW rows only
    (llm/similarity.py ivf_index — no retrain, no rebuild shuffle), and
    searching the folded index must return EXACTLY the top-10 a full
    rebuild on the union returns (``equiv_consistent``: per-row
    assignment against frozen centroids is order-independent — the
    property that makes daily growth O(batch) at 100 TB).
    ``recall_hits`` rides along as an EXACT hash-checked value (both
    the IVF search and the brute-force top-10 are SQL-expressible), a
    stronger oracle than the threshold-boolean recall gates."""
    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    cdf = e.filter(
        (F.col("vec_id") < 20) & (F.col("vec_id") % 5 != 4)
    ).select(
        F.col("vec_id").alias("cid"),
        llm_similarity.as_double("embedding").alias("cv"),
    )
    base = e.filter(F.col("vec_id") % 5 != 4)
    batch = e.filter(F.col("vec_id") % 5 == 4)
    idx_inc = llm_similarity.ivf_index(base, cdf).unionByName(
        llm_similarity.ivf_index(batch, cdf)
    )
    idx_full = llm_similarity.ivf_index(e, cdf)
    topk_inc = llm_similarity.ivf_search_index(
        idx_inc, cdf, q, nprobe=4, k=10
    ).localCheckpoint()
    topk_full = llm_similarity.ivf_search_index(
        idx_full, cdf, q, nprobe=4, k=10
    )
    diff = (
        _msdiff_rows(topk_inc, topk_full)
        .agg((F.count(F.lit(1)) == 0).alias("equiv_consistent"))
    )
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    hits = (
        topk_inc.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("recall_hits"))
    )
    return topk_inc.crossJoin(diff).crossJoin(hits)


@spec(
    "incremental_pq_equiv",
    "EXT-pq-ann EXT-ann-incr LLM-sim-ann",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS returned, TRUE AS code_consistent,
           TRUE AS topk_consistent, TRUE AS recall_ok
    """,
)
def incremental_pq_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ code-store maintenance: codebooks train once on
    the BASE slice (vec_id%5≠4 — frozen, the production recipe), the
    new batch encodes with those frozen books in one map-only Arrow
    pass (llm/similarity.py pq_encode) and unions onto the stored code
    table; the folded codes must equal a full re-encode cell-for-cell
    (``code_consistent`` — per-row argmin against frozen books), the
    ADC search through the folded codes must return the identical
    top-10 (``topk_consistent``), and the re-ranked result must hit
    ≥ 8 of the exact top-10 (the pq_ann_recall contract). PQ's numpy
    internals aren't SQL-expressible, so the oracle checks the reduced
    scalars like pq_ann_recall."""
    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    base = e.filter(F.col("vec_id") % 5 != 4)
    batch = e.filter(F.col("vec_id") % 5 == 4)
    books = llm_similarity.pq_train_codebooks(base, k=32)

    def _codes_str(df):
        return df.select(
            "vec_id",
            F.concat_ws(",", F.col("codes").cast("array<string>")).alias(
                "cs"
            ),
        )

    codes_inc = (
        llm_similarity.pq_encode(base, books)
        .unionByName(llm_similarity.pq_encode(batch, books))
        .localCheckpoint()
    )
    codes_full = llm_similarity.pq_encode(e, books).localCheckpoint()
    code_diff = (
        _msdiff_rows(_codes_str(codes_inc), _codes_str(codes_full))
        .agg((F.count(F.lit(1)) == 0).alias("code_consistent"))
    )
    topk_inc = llm_similarity.pq_topk_from_codes(
        codes_inc, e, q, books, k=10, pool=400
    ).localCheckpoint()
    topk_full = llm_similarity.pq_topk_from_codes(
        codes_full, e, q, books, k=10, pool=400
    )
    topk_diff = (
        _msdiff_rows(topk_inc, topk_full)
        .agg((F.count(F.lit(1)) == 0).alias("topk_consistent"))
    )
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    hits = (
        topk_inc.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("hit_cnt"))
    )
    return (
        topk_inc.agg(F.count(F.lit(1)).cast("long").alias("returned"))
        .crossJoin(code_diff)
        .crossJoin(topk_diff)
        .crossJoin(hits)
        .select(
            "returned",
            "code_consistent",
            "topk_consistent",
            (F.col("hit_cnt") >= 8).alias("recall_ok"),
        )
    )


def _pagerank_sql(iters: int = 3) -> str:
    """Oracle for the integer-PageRank gate: the near-dup edge set
    replays via the portable-plane LSH pair SQL (the lsh_near_dups
    oracle's device), then each iteration is one generated CTE pair —
    contribution sum with integer division, then the teleport+damp
    update — so the whole chain is exact integer arithmetic."""
    parts = [
        """
    u AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))) AS uv
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT c.vec_a, c.vec_b
      FROM cand c JOIN u ua ON ua.vec_id = c.vec_a
                  JOIN u ub ON ub.vec_id = c.vec_b
      WHERE list_dot_product(ua.uv, ub.uv) >= 0.4
    ),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION ALL
      SELECT vec_b AS src, vec_a AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
    r0 AS (SELECT vec_id AS id, CAST(1000000 AS BIGINT) AS pr
           FROM embeddings)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    c{i} AS (
      SELECT e.dst AS id, SUM(r.pr // d.deg) AS s
      FROM edges e JOIN deg d ON e.src = d.src
                   JOIN r{i - 1} r ON e.src = r.id
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.vec_id AS id,
             CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
      FROM embeddings n LEFT JOIN c{i} c ON n.vec_id = c.id
    )""")
    return (
        "WITH "
        + _PORTABLE_PLANES_CTE
        + ","
        + ",".join(parts)
        + f"""
    SELECT id AS vec_id, pr AS pr_micro FROM r{iters}
    """
    )


def _label_prop_sql(iters: int = 4) -> str:
    """Oracle for the label-propagation gate: same portable-LSH edge
    build as the PageRank oracle, then each round is a (dst, label)
    vote count + a row_number argmax (cnt DESC, label ASC — the exact
    tie-break the engine's (count, -label) struct-max encodes)."""
    head = _pagerank_sql(0)
    # reuse the edge-build CTE chain (everything before r0) verbatim
    head = head[: head.index(",\n    r0 AS")]
    parts = [
        """
    l0 AS (SELECT vec_id AS id, CAST(vec_id AS BIGINT) AS label
           FROM embeddings)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    v{i} AS (
      SELECT e.dst AS vid, l.label, COUNT(*) AS cnt
      FROM edges e JOIN l{i - 1} l ON e.src = l.id
      GROUP BY e.dst, l.label
    ),
    b{i} AS (
      SELECT vid, label AS new_label FROM (
        SELECT vid, label,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM v{i}) WHERE rn = 1
    ),
    l{i} AS (
      SELECT n.vec_id AS id,
             CAST(COALESCE(b.new_label, n.vec_id) AS BIGINT) AS label
      FROM embeddings n LEFT JOIN b{i} b ON n.vec_id = b.vid
    )""")
    return (
        head
        + ","
        + ",".join(parts)
        + f"""
    SELECT id AS vec_id, label FROM l{iters}
    """
    )


@spec(
    "label_prop_communities",
    "EXT-labelprop EXT-concomp LLM-dedup-embed-lsh",
    oracle=_label_prop_sql(4),
)
def label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation over the near-dup graph
    (llm/cluster.py label_propagation) — community detection completing
    the iterative-graph trio (CC collapses, PageRank ranks, LPA finds
    the dense regions a component's bridges connect). Seeds are node
    ids; every round each node adopts its neighbors' most frequent
    label, ties to the SMALLEST (a total order — the engine's
    (count, -label) struct-max and the oracle's row_number(cnt DESC,
    label ASC) encode the same argmax), isolated nodes keep their own.
    Output contract is the EXACT label vector after 4 fixed rounds —
    hash-checked end-to-end like pagerank_near_dups, not a convergence
    claim (synchronous LPA can 2-cycle on bipartite structures; fixed
    iterations keep it deterministic). Same edge build, same
    per-superstep exchange shape, same per-round localCheckpoint."""
    ensure_utc(spark)
    from .llm.cluster import label_propagation

    e = _t(spark, sf_dir, "embeddings")
    pairs = llm_similarity.lsh_near_dup_pairs(
        e, dim=64, threshold=0.4, n_planes=4, plane_family="portable"
    ).select("vec_a", "vec_b")
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst")
        )
    )
    labels = label_propagation(
        e.select("vec_id"), edges, node_col="vec_id", iters=4
    )
    return labels.select(
        F.col("id").alias("vec_id"), F.col("label").cast("long").alias("label")
    )


@spec(
    "pagerank_near_dups",
    "EXT-pagerank EXT-concomp LLM-dedup-embed-lsh",
    oracle=_pagerank_sql(3),
)
def pagerank_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank over the near-dup similarity graph
    (llm/cluster.py pagerank_integer) — the iterative-graph family
    beyond connected components: CC collapses a duplicate cluster, PR
    RANKS inside it (centrality picks the canonical survivor / surfaces
    hub documents). Edges are the subquadratic portable-LSH near-dup
    pairs (the lsh_near_dups gate's plan), expanded to both directions;
    3 fixed iterations of ``teleport + (85·Σ(pr div deg)) div 100`` in
    integer micro-units, so distributed accumulation order cannot move
    a value and the DuckDB oracle replays the ENTIRE edge build +
    iteration chain value-for-value — an iterative distributed
    algorithm under a full hash gate, like the trainer loops. Each
    superstep is one keyed join + one keyed sum (two exchanges),
    rank frame checkpointed per round against the iterative-lineage
    trap."""
    ensure_utc(spark)
    from .llm.cluster import pagerank_integer

    e = _t(spark, sf_dir, "embeddings")
    pairs = llm_similarity.lsh_near_dup_pairs(
        e, dim=64, threshold=0.4, n_planes=4, plane_family="portable"
    ).select("vec_a", "vec_b")
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst")
        )
    )
    ranks = pagerank_integer(
        e.select("vec_id"), edges, node_col="vec_id", iters=3
    )
    return ranks.select(
        F.col("id").alias("vec_id"), F.col("pr").alias("pr_micro")
    )


# ----------------------------------------------------------------------
# Batch 4 — mutation sinks (S10-S13), schema evolution (S16), checkpoint
# skip (S18), validity/availability filters (P11/P13), remaining scalar
# ops (F4/F11/F15), and the mock fetch stage (S6-S8/T4). The file/network
# edges that cannot run against parquet testdata (S2/S3/S5/S9 sources, T5
# inbox stream) are exercised by tests/test_sources_sinks.py and
# tests/test_streaming_pipeline.py instead.
# ----------------------------------------------------------------------

#: date split reused by the mutation queries: "old" state vs "new" batch.
_SPLIT = "1997-06-01"


def _orders_split(spark: SparkSession, sf_dir: str):
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < _SPLIT)
    new = o.filter(F.col("o_orderdate") >= _SPLIT).withColumn(
        "o_orderpriority", F.lit("REFRESHED")
    )
    return old, new


_SPLIT_SQL = f"""
    old AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{_SPLIT}'),
    new AS (SELECT * REPLACE ('REFRESHED' AS o_orderpriority) FROM orders
            WHERE o_orderdate >= TIMESTAMP '{_SPLIT}')
"""


@spec(
    "merge_upsert_orders",
    "S10",
    oracle=f"""
    WITH {_SPLIT_SQL}
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM old
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM new)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM new
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OR REPLACE (ref youtube_utils.py:237-258) as the anti-join +
    union rewrite — operators.merge.merge_upsert. New rows win on key
    collision; at scale the new batch broadcasts against the stored table."""
    from .operators.merge import merge_upsert

    old, new = _orders_split(spark, sf_dir)
    return merge_upsert(old, new, ["o_orderkey"]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )


@spec(
    "insert_if_absent_orders",
    "S11 J10",
    oracle=f"""
    WITH {_SPLIT_SQL}
    SELECT o_orderkey, o_orderpriority FROM old
    UNION ALL
    SELECT o_orderkey, o_orderpriority FROM new
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM old)
    """,
)
def insert_if_absent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OR IGNORE (ref main_scraper.py:161): append only absent keys
    — operators.merge.insert_if_absent (left_anti existence guard, J10)."""
    from .operators.merge import insert_if_absent

    old, new = _orders_split(spark, sf_dir)
    return insert_if_absent(old, new, ["o_orderkey"]).select("o_orderkey", "o_orderpriority")


@spec(
    "keyed_delete_orders",
    "S12",
    oracle=f"""
    WITH {_SPLIT_SQL}
    SELECT o_orderkey, o_orderstatus FROM old
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM new WHERE o_orderstatus = 'F')
    """,
)
def keyed_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch keyed DELETE (ref main_scraper.py:163-167) — tombstone
    anti-join via operators.merge.keyed_delete."""
    from .operators.merge import keyed_delete

    old, new = _orders_split(spark, sf_dir)
    tombstones = new.filter(F.col("o_orderstatus") == "F")
    return keyed_delete(old, tombstones, ["o_orderkey"]).select(
        "o_orderkey", "o_orderstatus"
    )


@spec(
    "field_update_orders",
    "S13 A9",
    oracle=f"""
    WITH {_SPLIT_SQL},
    upd AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS order_count FROM new GROUP BY o_custkey
    )
    SELECT c.c_custkey,
           CASE WHEN upd.o_custkey IS NOT NULL THEN upd.order_count ELSE c.c_nationkey END
             AS c_nationkey
    FROM customer c LEFT JOIN upd ON c.c_custkey = upd.o_custkey
    """,
)
def field_update_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE t SET col WHERE key (ref main_scraper.py:296-299): the A9
    count write-back shape — aggregate the batch, then
    operators.merge.field_update onto the dimension (broadcast join +
    conditional column replace). Repurposes c_nationkey as the updated
    field so the oracle stays on stock columns."""
    from .operators.merge import field_update

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    _, new = _orders_split(spark, sf_dir)
    upd = new.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count("*").alias("c_nationkey")
    )
    return field_update(c, upd, ["c_custkey"], ["c_nationkey"])


@spec(
    "schema_evolution_union",
    "S16",
    oracle="""
    SELECT * FROM (
      SELECT n_nationkey, n_name, NULL AS n_regionkey FROM nation WHERE n_nationkey < 13
      UNION ALL BY NAME
      SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey >= 13
    )
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution (ref main_scraper.py:244-251 PRAGMA+ALTER):
    an old snapshot lacking a column unions with the evolved one via
    io.evolve_schema (unionByName allowMissingColumns) — the missing
    column backfills as NULL, exactly ALTER TABLE ADD COLUMN."""
    from .io import evolve_schema

    n = _t(spark, sf_dir, "nation")
    old = n.filter(F.col("n_nationkey") < 13).select("n_nationkey", "n_name")
    new = n.filter(F.col("n_nationkey") >= 13).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    return evolve_schema(old, new).select("n_nationkey", "n_name", "n_regionkey")


@spec(
    "checkpoint_skip_orders",
    "S18 T3",
    oracle=f"""
    WITH done AS (SELECT DISTINCT o_orderkey FROM orders
                  WHERE o_orderdate < TIMESTAMP '{_SPLIT}')
    SELECT o_orderkey, o_orderdate FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM done)
    """,
)
def checkpoint_skip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-table skip-if-done (ref playlist_video_extractor.py:21-42):
    the work set is everything not yet in the processed table — one
    left_anti join, broadcast when the checkpoint is small."""
    o = _t(spark, sf_dir, "orders")
    done = o.filter(F.col("o_orderdate") < _SPLIT).select("o_orderkey")
    return o.join(done, "o_orderkey", "left_anti").select("o_orderkey", "o_orderdate")


@spec(
    "valid_available_parts",
    "P11 P13",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name IS NOT NULL AND trim(p_name) != ''
      AND NOT (p_brand = 'Brand#44')
    """,
)
def valid_available_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity filter on semi-structured input (P11; ref run_me.py:158-160
    skip-if-missing) + unavailability negation filter (P13; ref
    youtube_utils.py:67-69) — both plain pushed-down predicates."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").isNotNull()
        & (F.trim("p_name") != "")
        & ~(F.col("p_brand") == "Brand#44")
    ).select("p_partkey", "p_name", "p_brand")


@spec(
    "timestamped_docs",
    "F4 P12",
    oracle=r"""
    SELECT doc_id,
           regexp_matches(text, '(\[\d{1,2}:\d{2}(:\d{2})?\]|\d{1,2}:\d{2}(:\d{2})?[ \t\n\x0B\f\r]*-[ \t\n\x0B\f\r]|(^|\n)[ \t\n\x0B\f\r]*\d{1,2}:\d{2}(:\d{2})?[ \t\n\x0B\f\r]|<\d{1,2}:\d{2}(:\d{2})?>)')
             AS has_ts
    FROM documents
    """,
)
def timestamped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """has_timestamps (F4; ref add_transcripts.py:49-63): the 4-shape
    timestamp alternation as one rlike over document text."""
    from .functions.scalars import has_timestamps

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", has_timestamps("text").alias("has_ts"))


@spec(
    "segment_join_render",
    "F11 F15",
    oracle=r"""
    SELECT doc_id,
           COALESCE(list_aggregate(
             list_filter(
               list_transform(
                 CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') END,
                 s -> upper(trim(s))),
               s -> s != ''),
             'string_agg', ' '), '') AS rendered
    FROM documents
    """,
)
def segment_join_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-segment concat (F11; ref youtube_utils.py:169-190
    strip→drop-empty→join) over tokenized document text: transform + filter
    + array_join, all higher-order Column exprs, zero Python."""
    d = _t(spark, sf_dir, "documents")
    toks = llm_text.tokens(F.coalesce(F.col("text"), F.lit("")))
    return d.select(
        "doc_id",
        F.array_join(
            F.filter(
                F.transform(toks, lambda s: F.upper(F.trim(s))), lambda s: s != ""
            ),
            " ",
        ).alias("rendered"),
    )


@spec(
    "mock_fetch_enrichment",
    "S6 S7 S8 T4",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS video_id,
           CAST(length(CAST(c_custkey AS VARCHAR)) AS BIGINT) AS meta_len,
           TRUE AS fetch_ok
    FROM customer
    WHERE c_custkey <= 200
    """,
)
def mock_fetch_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The external-fetch stage (S6-S8) with a deterministic injected
    fetcher through pipelines.fetch_stage — the real mapInPandas retry/rate
    plumbing (T4), oracle-checkable because the fake fetch is a pure
    function of the id. Production swaps the fetcher for yt-dlp et al.;
    the Spark plan is identical."""
    from pyspark.sql import types as T

    from .pipelines import fetch_stage

    ids = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 200)
        .select(F.col("c_custkey").cast("string").alias("video_id"))
    )
    schema = T.StructType([T.StructField("meta_len", T.LongType())])
    return fetch_stage(ids, lambda vid: {"meta_len": len(vid)}, schema)


# ----------------------------------------------------------------------
# Batch 5 — scale-extension operators beyond the reference surface:
# as-of join, time-bucket rollup, percentile summary (each the canonical
# large-cluster formulation, each oracle-checked).
# ----------------------------------------------------------------------

@spec(
    "asof_latest_order",
    "EXT-asof J6 W2",
    oracle="""
    WITH r AS (
      SELECT o_custkey AS k,
             CAST(o_orderdate AS TIMESTAMP) AS rt,
             MAX(o_orderkey) AS last_orderkey
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, r.last_orderkey,
           CAST(r.rt AS DATE) AS last_order_date
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.k AND e.ts >= r.rt
    """,
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event gets the customer's latest
    order at-or-before the event timestamp (operators.asof.as_of_join —
    union + carry-forward window, ONE key shuffle, no range-explode).
    The right side is pre-aggregated to one row per (custkey, date) so
    the as-of pick is deterministic; the DuckDB oracle is a native
    ASOF LEFT JOIN over the identical reduced table."""
    from .operators.asof import as_of_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    r = (
        o.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("rt"),
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
        .withColumn("last_order_date", F.col("rt").cast("date"))
    )
    return as_of_join(
        e, r, key="user_id", left_ts="ts", right_ts="rt",
        payload_cols=["last_orderkey", "last_order_date"],
    ).select("event_id", "user_id", "last_orderkey", "last_order_date")


@spec(
    "event_daily_rollup",
    "EXT-timebucket A2 A8 O4",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS bucket_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
    FROM events
    GROUP BY 1, 2
    """,
)
def event_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style tumbling rollup: day buckets via F.window (the
    same construct the streaming path uses, so batch backfill and live
    rollup share semantics), partial-aggregated map-side. At 100 TB this
    is ONE keyed shuffle of (day, type) partials; countDistinct adds the
    standard two-phase expansion, which AQE coalesces."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("uniq_users"),
        )
        .select(
            F.col("w.start").cast("date").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
            "uniq_users",
        )
    )


@spec(
    "event_value_percentiles",
    "EXT-percentile A8",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 2) AS p50,
           ROUND(quantile_cont(value, 0.9), 2) AS p90,
           ROUND(quantile_cont(value, 0.99), 2) AS p99,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value percentiles. The oracle-checked numbers come from
    the EXACT interpolated percentile (matches quantile_cont); the same
    row also self-checks the 100 TB path — approx_percentile (t-digest
    sketch, map-side mergeable, bounded memory) must land within 15% or
    1.0 absolute of exact p90 — so the scalable variant is continuously
    validated against its exact twin, like the LSH recall gates."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 2).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 2).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 2).alias("p99"),
            F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("_ap90"),
        )
        .select(
            "event_type",
            "p50",
            "p90",
            "p99",
            (
                (F.abs(F.col("_ap90") - F.col("p90")) <= F.greatest(F.lit(1.0), F.col("p90") * 0.15))
            ).alias("approx_ok"),
        )
    )


@spec(
    "shipments_in_transit_daily",
    "EXT-rangejoin EXT-prefixsum",
    oracle="""
    WITH iv AS (
      SELECT CAST(l_shipdate AS DATE) AS ship_day,
             CAST(l_shipdate AS DATE) + CAST((l_linenumber % 14) + 1 AS INTEGER)
               AS receipt_day
      FROM lineitem
    ),
    d AS (
      SELECT ship_day AS day, 1 AS delta FROM iv
      UNION ALL
      SELECT receipt_day AS day, -1 AS delta FROM iv
    ),
    g AS (SELECT day, SUM(delta) AS delta FROM d GROUP BY day)
    SELECT day, CAST(SUM(delta) OVER (ORDER BY day) AS BIGINT) AS in_transit
    FROM g
    """,
)
def shipments_in_transit_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-stabbing counts for EVERY day at once: how many lineitems
    are in transit (ship_day <= day < receipt_day) per day — the sweep-
    line formulation of a point-in-interval range join. The transit
    interval is derived deterministically from stock columns
    (1 + l_linenumber % 14 days; the driver testdata carries no receipt
    date). Each interval becomes a +1/-1 delta pair, deltas aggregate per
    day (one keyed shuffle), and the running total is operators.
    prefix_sum.distributed_cumsum — range-shuffle + per-partition window
    + broadcast offsets, NO single-partition exchange (the plan-quality
    test pins this). The naive day×interval equality-bucket join
    materializes |intervals| × avg_days rows; the sweep is linear in
    |intervals|."""
    from .operators.prefix_sum import distributed_cumsum

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("ship_day"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            (F.col("l_linenumber") % 14) + 1,
        ).alias("receipt_day"),
    )
    # One scan, not a two-branch union (which reads lineitem twice):
    # explode each interval into its +1/-1 endpoint deltas inline, then
    # aggregate per day with map-side combine.
    deltas = (
        li.select(
            F.explode(
                F.array(
                    F.struct(F.col("ship_day").alias("day"), F.lit(1).alias("delta")),
                    F.struct(
                        F.col("receipt_day").alias("day"), F.lit(-1).alias("delta")
                    ),
                )
            ).alias("e")
        )
        .select("e.day", "e.delta")
        .groupBy("day")
        .agg(F.sum("delta").alias("delta"))
    )
    return (
        distributed_cumsum(deltas, "day", "delta", out_col="in_transit")
        .select("day", F.col("in_transit").cast("long").alias("in_transit"))
    )


@spec(
    "uniq_users_sketch",
    "EXT-sketch A3",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_uniques,
           TRUE AS sketch_ok
    FROM events
    GROUP BY event_type
    """,
)
def uniq_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch validated against its exact
    twin in the same row: approx_count_distinct (rsd 2%) must land within
    5% of countDistinct. The sketch is THE 100 TB path — fixed ~1.5 KB
    of state per group, map-side mergeable, one narrow shuffle — while
    exact countDistinct pays a two-phase expansion; the gate keeps the
    cheap path honest, like the LSH recall and t-digest checks."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_uniques"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        )
        .select(
            "event_type",
            "exact_uniques",
            (
                F.abs(F.col("_approx") - F.col("exact_uniques"))
                <= F.greatest(F.lit(2.0), F.col("exact_uniques") * 0.05)
            ).alias("sketch_ok"),
        )
    )


# The exact 3-gram Jaccard pair graph (same computation as the
# ngram_jaccard_pairs oracle) as a reusable CTE body for the
# cluster-level dedup oracles below.
_JACCARD_EDGE_CTES = r"""
    norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS nt
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             CASE WHEN trim(nt) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(nt), ' ') END AS t
      FROM norm
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_distinct(list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             ELSE CAST([] AS VARCHAR[]) END AS s
      FROM tok
    ),
    sized AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
    ex AS (SELECT doc_id, n, unnest(s) AS g FROM sized),
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS shared, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jp AS (
      SELECT doc_a, doc_b FROM prs
      WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.4
    ),
    e2 AS (
      SELECT doc_a AS a, doc_b AS b FROM jp
      UNION ALL SELECT doc_b, doc_a FROM jp
    ),
    reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM e2)
      UNION
      SELECT r.a, e.b FROM reach r JOIN e2 e ON r.b = e.a
    ),
    lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
"""


@spec(
    "near_dup_clusters",
    "EXT-concomp LLM-dedup-jaccard",
    oracle="WITH RECURSIVE " + _JACCARD_EDGE_CTES + r"""
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM lab
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: transitive closure of the exact 3-gram
    Jaccard pair graph via alternating large-star/small-star connected
    components (llm/cluster.py) — {A~B, B~C} collapses to one cluster
    labeled by its minimum doc_id. The oracle recomputes the closure with
    a DuckDB recursive CTE, so the iterative distributed algorithm is
    hash-checked end-to-end, not just row-counted."""
    d = _t(spark, sf_dir, "documents")
    pairs = llm_dedup.jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.4)
    labels = llm_cluster.connected_components(pairs, "doc_a", "doc_b")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .alias("cluster_size"),
    )


@spec(
    "near_dedup_keep",
    "EXT-concomp EXT-dedup-survivor",
    oracle="WITH RECURSIVE " + _JACCARD_EDGE_CTES + r"""
    SELECT cluster_id AS doc_id, 'canonical' AS kept_reason
    FROM (SELECT DISTINCT cluster_id FROM lab)
    UNION ALL
    SELECT doc_id, 'unique' AS kept_reason FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM lab)
    """,
)
def near_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup SURVIVOR list — what a training-data pipeline actually
    feeds downstream: one canonical doc (minimum id) per near-dup
    cluster plus every doc that matched no pair. Anti-join against the
    cluster labels; no full-corpus shuffle beyond the pair graph."""
    d = _t(spark, sf_dir, "documents")
    pairs = llm_dedup.jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.4)
    labels = llm_cluster.connected_components(pairs, "doc_a", "doc_b")
    return llm_cluster.dedup_keep_list(d, "doc_id", labels)


@spec(
    "doc_split_assign",
    "EXT-sample-split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                  THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
                  THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by md5 hash
    range (llm/sampling.py) — stable across runs, engines, and
    partitionings, so split membership never drifts between pipeline
    re-executions. Pure projection: no shuffle, no seed state."""
    d = _t(spark, sf_dir, "documents")
    return llm_sampling.split_assign(
        d, "doc_id", [("train", 0.8), ("valid", 0.1), ("test", 0.1)]
    ).select("doc_id", "split")


@spec(
    "doc_stratified_sample",
    "EXT-sample-strat",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE lang WHEN 'en' THEN '40000000'
                    WHEN 'zh' THEN 'g0000000'
                    ELSE '80000000' END
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates (downsample dominant en to 25%, keep
    all zh, half of the rest) via the same hash draw — the corpus
    rebalancing pass, as a scan-stage filter with zero shuffle."""
    d = _t(spark, sf_dir, "documents")
    return llm_sampling.stratified_sample(
        d, "doc_id", "lang", {"en": 0.25, "zh": 1.0}, default_rate=0.5
    ).select("doc_id", "lang")


@spec(
    "corpus_mix_epochs",
    "EXT-sample-mix",
    oracle="""
    SELECT doc_id, source, CAST(unnest(generate_series(1, reps)) AS INT) AS epoch
    FROM (
      SELECT doc_id, source,
             CASE source
               WHEN 'src0' THEN 2 + CASE WHEN h < '80000000' THEN 1 ELSE 0 END
               WHEN 'src1' THEN CASE WHEN h < '40000000' THEN 1 ELSE 0 END
               WHEN 'src2' THEN 0
               ELSE 1 END AS reps
      FROM (SELECT doc_id, source,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
            FROM documents)
    )
    """,
)
def corpus_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted training mixture: src0 ×2.5, src1 ×0.25, src2
    dropped, everything else ×1 — fractional factors resolved per row by
    the hash draw so exactly the same half of src0 gets a third epoch on
    every run. One explode, no union-per-epoch plan blowup
    (llm/sampling.py mix_epochs)."""
    d = _t(spark, sf_dir, "documents")
    return llm_sampling.mix_epochs(
        d, "doc_id", "source", {"src0": 2.5, "src1": 0.25, "src2": 0.0}
    ).select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))


@spec(
    "doc_chunks",
    "EXT-chunk",
    oracle="""
    SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
           substr(text, CAST((i - 1) * 400 + 1 AS INT), 500) AS chunk_text
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(
               1, CAST(floor((length(text) - 1) / 400.0) AS BIGINT) + 1)) AS i
      FROM documents WHERE length(text) > 0
    )
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunks (500 chars, stride 400 → 100
    overlap) for RAG/training prep: sequence+transform inside codegen,
    then one posexplode — output volume scales with corpus bytes/stride,
    never with a per-row Python loop (llm/text.py chunks)."""
    d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    ch = llm_text.chunks("text", size=500, stride=400)
    return d.select(
        "doc_id", F.posexplode(ch).alias("chunk_idx", "chunk_text")
    ).select(
        "doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"), "chunk_text"
    )


@spec(
    "doc_pii_scrub",
    "EXT-pii",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               COALESCE(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or +1 (555) 01'
                    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS scrubbed
    FROM documents
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, phone-shaped digit runs → typed
    placeholders) over text with synthesized deterministic PII appended —
    the testdata corpus contains none, and the point is to hash-check the
    actual regex semantics against the oracle, not to scrub clean text.
    Patterns live in the Java-regex ∩ RE2 common subset so both engines
    run the identical expression (llm/text.py scrub_pii)."""
    d = _t(spark, sf_dir, "documents")
    synth = F.concat_ws(
        "",
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1 (555) 01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    return d.select("doc_id", llm_text.scrub_pii(synth).alias("scrubbed"))


@spec(
    "seq_packing_gate",
    "EXT-packing",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS packed_once, TRUE AS no_overflow, TRUE AS fill_ok
    FROM documents
    """,
)
def seq_packing_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (llm/packing.py: bucketed first-fit-decreasing
    into 512-token bins) self-checked the way the sketch/recall gates
    are: the greedy assignment itself is non-SQL-expressible, so the
    oracle-checked row asserts its invariants — every doc packed exactly
    once, no bin over capacity, aggregate fill ≥ 70% of the occupied
    bins' capacity. A packing regression (dup/dropped docs, overflow,
    degenerate one-doc bins) flips a boolean and fails the hash check."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        llm_text.token_count(F.coalesce(F.col("text"), F.lit(""))).alias(
            "n_tok"
        ),
    )
    packed = llm_packing.pack_sequences(d, "doc_id", "n_tok", capacity=512)
    bins = packed.groupBy("bin_id").agg(F.sum("packed_len").alias("load"))
    stats = (
        d.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(
            packed.agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("doc_id").alias("uniq"),
            )
        )
        .crossJoin(
            bins.agg(
                F.max("load").alias("max_load"),
                F.sum("load").alias("total_load"),
                (F.sum("load") / (F.count(F.lit(1)) * 512)).alias("fill"),
            )
        )
    )
    return stats.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        ((F.col("rows") == F.col("n_docs")) & (F.col("uniq") == F.col("n_docs"))).alias(
            "packed_once"
        ),
        (F.col("max_load") <= 512).alias("no_overflow"),
        # fill is only a meaningful invariant once the corpus could fill
        # more than one bin — a degenerate corpus (total tokens ≤ one
        # capacity) trivially satisfies it (tests/test_oracle_edge_text.py
        # runs this gate over a 10-doc hostile corpus)
        ((F.col("fill") >= 0.7) | (F.col("total_load") <= 512)).alias(
            "fill_ok"
        ),
    )


@spec(
    "bucketed_order_lines",
    "EXT-bucketjoin J2 A8",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def bucketed_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located join path: orders and lineitem materialized as
    bucketed tables on the join key (operators/bucketing.py), then joined
    and aggregated — at scale this plan has NO Exchange and NO Sort (the
    write paid the shuffle once; tests/test_bucketing.py pins the plan
    shape). The oracle is the plain join, proving the bucketed layout
    changes the physical plan only, never the results."""
    import re as _re

    tag = _re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    base = "/root/repo/.bucketed"
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    bo = bucketing.ensure_bucketed(
        spark, o, f"bkt_orders_{tag}", ["o_orderkey"], 8,
        path=f"{base}/bkt_orders_{tag}",
    )
    bl = bucketing.ensure_bucketed(
        spark, li, f"bkt_lineitem_{tag}", ["l_orderkey"], 8,
        path=f"{base}/bkt_lineitem_{tag}",
    )
    return (
        bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@spec(
    "regional_revenue",
    "EXT-starjoin J2 A2 O2",
    oracle="""
    SELECT r_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema revenue rollup (TPC-H Q5 shape): the fact table joins
    four dimensions, every one broadcast — the only shuffle in the plan
    is the final two-column aggregation. The local-supplier predicate
    (c_nationkey = s_nationkey) rides the supplier broadcast as a
    residual condition. This is the canonical 100 TB star-join: fact
    bytes stream once, dims live in every executor."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@spec(
    "status_priority_rollup",
    "EXT-groupingsets A2 A4",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def status_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — per (status, priority), per status, and
    grand total in ONE pass (Spark expands grouping sets inside the
    aggregate; no union of three scans). gid disambiguates real NULLs
    from subtotal rows, matching DuckDB's GROUPING() bitmask."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price")
    )


@spec(
    "event_user_moving_avg",
    "EXT-movingwindow W2 T2",
    oracle="""
    SELECT event_id, user_id,
           floor((SUM(cents) OVER w) * 1.0 / (COUNT(*) OVER w)) / 100
             AS avg_7d
    FROM (
      SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    """,
)
def event_user_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 7-day trailing average — an event-time range frame over a
    KEYED window (partitionBy user_id: parallel by key, no global sort).
    The frame is in epoch seconds on both engines so range semantics are
    identical; RANGE frames treat equal-ts rows as peers (all included),
    so the result is deterministic without a tie-break key."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-604800, 0)
    )
    # Average exact integer cents, not doubles: sliding-window float
    # accumulation order differs across engines (segment tree vs
    # sequential), so AVG(double) diverges in the last ulp and flips
    # truncation boundaries. SUM/COUNT of BIGINTs are exact; one double
    # division + floor is then bitwise identical everywhere.
    cents = F.round(F.col("value") * 100).cast("long")
    return e.select(
        "event_id",
        "user_id",
        (F.floor(F.sum(cents).over(w) / F.count(F.lit(1)).over(w)) / 100).alias(
            "avg_7d"
        ),
    )


@spec(
    "top_orders_per_customer",
    "EXT-topkgroup W1 O7",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — the grouped top-k idiom:
    keyed window + row_number + filter, with a unique tie-break key so
    results are total-order deterministic. One hash shuffle on the group
    key; per-group state is O(k) after the filter pushes into the sort.
    (The global-top-k twin is operators/topk.py's TakeOrderedAndProject
    path; this is its per-group counterpart.)"""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@spec(
    "incremental_dedup_new",
    "EXT-incdedup LLM-dedup-exact E1 E4",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS content_fp,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' AS in_corpus
      FROM documents
    ),
    new_docs AS (SELECT doc_id, content_fp FROM fp WHERE NOT in_corpus),
    corpus AS (SELECT DISTINCT content_fp FROM fp WHERE in_corpus),
    fresh AS (
      SELECT n.doc_id, n.content_fp,
             row_number() OVER (PARTITION BY n.content_fp ORDER BY n.doc_id) AS rn
      FROM new_docs n ANTI JOIN corpus c ON n.content_fp = c.content_fp
    )
    SELECT doc_id, content_fp FROM fresh WHERE rn = 1
    """,
)
def incremental_dedup_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion dedup — the steady-state shape of a
    production pipeline (you never re-dedup 100 TB; you dedup today's
    batch against it): the 'new batch' (hash-derived 20% slice) keeps a
    doc iff its content fingerprint (a) is absent from the existing
    corpus — one left_anti join on 16-byte hashes, never bodies — and
    (b) is the batch's own first occurrence (keyed window). At scale the
    corpus side is a bucketed fingerprint table (operators/bucketing.py)
    making the anti-join exchange-free on the corpus side."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        llm_text.content_fingerprint("text").alias("content_fp"),
        (llm_sampling.hex8("doc_id") < "cccccccc").alias("in_corpus"),
    )
    new_docs = fp.where(~F.col("in_corpus")).drop("in_corpus")
    corpus = fp.where(F.col("in_corpus")).select("content_fp").distinct()
    fresh = new_docs.join(corpus, "content_fp", "left_anti")
    w = Window.partitionBy("content_fp").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "content_fp")
    )


@spec(
    "event_value_delta",
    "EXT-laglead W2",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value - lag(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) -
                lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS gap_sec
    FROM events
    """,
)
def event_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-event deltas (value change + inter-arrival
    gap) via lag over a keyed window with a unique tie-break — the
    sessionization/rate-of-change primitive. One hash shuffle on
    user_id; NULL first row per user on both engines. value arithmetic
    is a single subtraction of stored doubles (no accumulation), so
    ROUND is engine-stable here."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.col("ts").cast("long")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
        (es - F.lag(es).over(w)).alias("gap_sec"),
    )


@spec(
    "user_event_type_pivot",
    "EXT-pivot A2",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
    FROM events
    GROUP BY user_id
    """,
)
def user_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: per-user counts per event type as columns. The
    pivot values are EXPLICIT — passing them to ``pivot()`` skips the
    eager distinct-scan Spark otherwise runs at plan time to discover
    them (a full extra pass at 100 TB), and pins the output schema. One
    shuffle; count never returns NULL so no fill step is needed."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


@spec(
    "status_priority_sets",
    "EXT-groupingsets A2 A4",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def status_priority_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-hierarchical GROUPING SETS — per-status AND per-priority
    totals in ONE aggregate pass (neither ROLLUP nor CUBE expresses
    exactly this pair). Spark expands the sets inside the hash
    aggregate: one scan, one shuffle, versus the two-scan UNION ALL a
    naive plan would run — at 100 TB that's the whole difference."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price")
    )


@spec(
    "event_funnel",
    "EXT-funnel W2 A1",
    oracle="""
    WITH f1 AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(event_type = 'view' AS INT) AS is_view,
             COALESCE(MAX(CAST(event_type = 'view' AS INT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS seen_view
      FROM events
    ),
    f2 AS (
      SELECT *, CAST(event_type = 'click' AND seen_view = 1 AS INT) AS step2
      FROM f1
    ),
    f3 AS (
      SELECT *, COALESCE(MAX(step2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS seen_click
      FROM f2
    ),
    f4 AS (
      SELECT *, CAST(event_type = 'purchase' AND seen_click = 1 AS INT)
                  AS step3
      FROM f3
    ),
    u AS (
      SELECT user_id, MAX(is_view) AS v, MAX(step2) AS c, MAX(step3) AS p
      FROM f4 GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS users_total,
           CAST(SUM(v) AS BIGINT) AS users_viewed,
           CAST(SUM(c) AS BIGINT) AS users_clicked_after_view,
           CAST(SUM(p) AS BIGINT) AS users_purchased_after_funnel
    FROM u
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern funnel (view → click → purchase, strictly in
    event-time order), SKEW-ROBUST formulation. A stage k event counts
    iff it sorts strictly after the user's FIRST qualifying stage-(k-1)
    event in (ts, event_id) order, so the funnel reduces to a chain of
    per-user MIN-position aggregates: first view → first click after
    that → any purchase after that. Every stage is either a hash
    aggregate (map-side partial combine absorbs a hot user before the
    shuffle) or an equi-join AQE's skew-join can split — unlike the
    keyed-window formulation, whose per-user sort necessarily funnels a
    hot user's entire history through one reducer (measured 1.76× on
    the ×20 skew probe; unbounded at cluster scale). Struct comparison
    (ts, event_id) keeps the exact event-order tie-break and stays
    inside whole-stage codegen."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.struct("ts", "event_id").alias("pos")
    )
    # one full scan: every user appears (users_total), first_view NULL
    # for users with no view — the conditional MIN costs nothing extra.
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("pos"))).alias(
            "first_view"
        )
    )
    first_click = (
        e.where(F.col("event_type") == "click")
        .join(per_user.where(F.col("first_view").isNotNull()), "user_id")
        .where(F.col("pos") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("pos").alias("first_click"))
    )
    purchased = (
        e.where(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .where(F.col("pos") > F.col("first_click"))
        .select("user_id")
        .distinct()
    )
    return (
        per_user.join(first_click, "user_id", "left")
        .join(purchased.withColumn("_p", F.lit(1)), "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("users_total"),
            F.sum(F.col("first_view").isNotNull().cast("long")).alias(
                "users_viewed"
            ),
            F.sum(F.col("first_click").isNotNull().cast("long")).alias(
                "users_clicked_after_view"
            ),
            F.sum(F.coalesce(F.col("_p"), F.lit(0)).cast("long")).alias(
                "users_purchased_after_funnel"
            ),
        )
    )


@spec(
    "user_retention_cohorts",
    "EXT-cohort A2 A3",
    oracle="""
    WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    f AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id)
    SELECT CAST(date_trunc('week', f.cohort_day) AS DATE) AS cohort_week,
           CAST(floor(date_diff('day', f.cohort_day, e.d) / 7) AS BIGINT)
             AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the product-analytics staple: cohort a user by
    the ISO week of their first event, then count distinct active users
    per (cohort_week, week_offset). Two shuffles, both on user_id (the
    first-event agg and the events↔cohort join co-partition, so AQE
    reuses the exchange); the final two-column rollup is tiny. At 100 TB
    the cohort map is ~n_users rows — orders smaller than events — and
    the join key is the agg key, the cheapest possible self-enrichment."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        e.join(first, "user_id")
        .select(
            F.date_trunc("week", F.col("cohort_day").cast("timestamp"))
            .cast("date")
            .alias("cohort_week"),
            F.floor(F.datediff("d", "cohort_day") / 7).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@spec(
    "order_price_histogram",
    "EXT-histogram A2",
    oracle="""
    SELECT CAST(floor(o_totalprice / 5000) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / 5000) * 5000 AS DOUBLE) AS lo,
           CAST((floor(o_totalprice / 5000) + 1) * 5000 AS DOUBLE) AS hi,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram by direct bucket arithmetic — binning as a
    pure projection feeding a hash aggregate, so the whole histogram is
    one map-side-combinable shuffle of ~n_buckets rows per task. (The
    anti-pattern is ntile/percent_rank global windows, which serialize
    the table through one reducer; fixed-width binning needs no order.)"""
    o = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 5000)
    return (
        o.select(
            bucket.alias("bucket"),
            (bucket * 5000).cast("double").alias("lo"),
            ((bucket + 1) * 5000).cast("double").alias("hi"),
            "o_totalprice",
        )
        .groupBy("bucket", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@spec(
    "weighted_doc_sample",
    "EXT-sample-weighted O7",
    oracle="""
    SELECT doc_id, n_chars, priority FROM (
      SELECT doc_id, n_chars,
             CASE WHEN n_chars <= 0 THEN 0.0 ELSE
               round(pow(
                 (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) + 1) / 4294967296.0,
                 1.0 / n_chars), 6)
             END AS priority
      FROM documents
    ) ORDER BY priority DESC, doc_id LIMIT 50
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-Res): each doc draws u ∈ (0,1] from md5(doc_id) and
    scores u^(1/weight); the global top-k by score IS a weighted sample.
    Fully distributed: the score is a projection and the top-50 runs as
    TakeOrderedAndProject (O(k) state per partition, no global sort) —
    and because u is hash-derived, membership is rerun-stable and
    auditable per row, like every sampler in llm/sampling.py. Scores are
    rounded to 6 dp on both engines so the ordering compares equal
    despite last-ulp libm differences; doc_id breaks ties."""
    d = _t(spark, sf_dir, "documents")
    return llm_sampling.weighted_sample(
        d.select("doc_id", "n_chars"), "doc_id", "n_chars", 50
    ).select("doc_id", "n_chars", "priority")


@spec(
    "event_neighbor_counts",
    "EXT-bandjoin J2 A2",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    )
    SELECT a.event_id, a.user_id,
           CAST(count(b.event_id) AS BIGINT) AS n_neighbors
    FROM e a LEFT JOIN e b
      ON a.user_id = b.user_id AND b.event_id <> a.event_id
         AND abs(a.es - b.es) <= 3600
    GROUP BY a.event_id, a.user_id
    """,
)
def event_neighbor_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (interval) self-join — events of the same user within ±1 h —
    via the binned-band-join rewrite: each probe row joins only the
    rows whose hour-bucket is its own or adjacent (the right side
    explodes to 3 buckets), then the exact |Δt| ≤ 3600 predicate
    filters residually. The naive plan is an O(n²)-per-user inequality
    join (exactly what the oracle runs); the binned rewrite is an
    EQUI-join on (user_id, bucket) that Spark hash-partitions, with
    per-bucket cost proportional to local density. The same shape
    serves dedup-within-window, sensor correlation, and sessionized
    attribution."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("es")
    )
    left = e.withColumn("b", F.floor(F.col("es") / 3600))
    b2 = F.floor(F.col("es") / 3600)
    right = e.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("nbr_id"),
        F.col("es").alias("es2"),
        F.explode(F.array(b2 - 1, b2, b2 + 1)).alias("b"),
    )
    pairs = (
        left.join(
            right,
            (left["user_id"] == right["u2"]) & (left["b"] == right["b"]),
        )
        .where(
            (F.abs(F.col("es") - F.col("es2")) <= 3600)
            & (F.col("event_id") != F.col("nbr_id"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        e.select("event_id", "user_id")
        .join(pairs, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_neighbors"),
        )
    )


@spec(
    "nation_share_of_region",
    "EXT-sharewin A2 W2",
    oracle="""
    WITH rv AS (
      SELECT r_name, n_name,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    )
    SELECT r_name, n_name, revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY r_name), 4)
             AS region_share
    FROM rv
    """,
)
def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each supplier nation's share of its region's
    revenue — a window over an AGGREGATE (25 rows), not over the fact
    table, which is the scale-critical distinction: the expensive sum
    happens once in the hash aggregate; the share window touches only
    the rollup. Dims broadcast; the fact scans once."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    rv = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("r_name")
    return rv.select(
        "r_name",
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 4).alias(
            "region_share"
        ),
    )


@spec(
    "shipping_priority",
    "EXT-classic-q3 J2 A2 O7",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-revenue priority (TPC-H Q3 shape): a selective dim
    filter drives the plan — the BUILDING customers broadcast into
    orders, the date predicates push into both parquet scans, and the
    top-10 runs as TakeOrderedAndProject over the aggregate. The fact
    table never shuffles except on its own aggregation key."""
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1998-06-01"
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-06-01")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@spec(
    "returned_item_customers",
    "EXT-classic-q10 J2 A2 O7",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS lost_revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY lost_revenue DESC, c_custkey LIMIT 20
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-revenue ranking (TPC-H Q10 shape): the returnflag filter
    pushes to the lineitem scan, the orders join shuffles on orderkey,
    and the customer attributes arrive by broadcast AFTER the heavy
    aggregation — joining the dim onto n_customers aggregated rows, not
    onto the fact, which is the right order of operations at 100 TB."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("lost_revenue")
        )
    )
    return (
        per_cust.join(F.broadcast(c), per_cust["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "lost_revenue")
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@spec(
    "line_stats_by_flag",
    "EXT-statagg A2 A8",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           ROUND(stddev_samp(l_quantity), 6) AS qty_stddev
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def line_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covariance / stddev) per group —
    all three are single-pass distributive sketches (sums of x, y, xy,
    x², counts) that Spark merges map-side, so the full statistical
    profile costs exactly one narrow shuffle, same as a count. Rounded
    on both engines because the merge order of float partials differs."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
    )


@spec(
    "similar_part_names",
    "EXT-fuzzyjoin J2 P4",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS noun FROM part
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM p a JOIN p b ON a.noun = b.noun AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 1 AND a.p_name <> b.p_name
    """,
)
def similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-join with blocking: candidate pairs
    come from an EQUI-join on a blocking key (the head noun), and the
    O(len²) levenshtein only runs inside blocks — the standard entity-
    resolution rewrite of an otherwise O(n²) similarity join, same
    stance as the band join and every LSH family here. At scale the
    blocking key graduates to a q-gram/phonetic bucket; the plan shape
    is identical."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(1).alias("noun"),
    )
    a = p.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        "noun",
    )
    b = p.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        F.col("noun").alias("noun_b"),
    )
    return (
        a.join(b, (a["noun"] == b["noun_b"]) & (a["part_a"] < b["part_b"]))
        .where(
            (F.levenshtein("name_a", "name_b") <= 1)
            & (F.col("name_a") != F.col("name_b"))
        )
        .select(
            "part_a",
            "part_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
        )
    )


@spec(
    "multimodal_frame_samples",
    "LLM-multimodal",
    oracle="""
    SELECT doc_id AS asset_id, f.frame_no,
           sha256(text || ':' || f.frame_no) AS frame_sha256
    FROM documents, (VALUES (0), (10), (20)) AS f(frame_no)
    """,
)
def multimodal_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling end-to-end through the Arrow kernel: the
    1→N mapInPandas fan-out (llm/multimodal.sample_frames) hash-checked
    against the oracle's cross-join twin — proving batch shape, fan-out
    arity, and per-frame digests all match, not just row counts. The
    payload 'decode' is the documented stub; everything around it is the
    real production plumbing."""
    d = _t(spark, sf_dir, "documents")
    media = llm_multimodal.attach_binary(d, "doc_id", "text", "video")
    return llm_multimodal.sample_frames(media, every_n=10, max_frames=3).select(
        "asset_id", F.col("frame_no").cast("int").alias("frame_no"), "frame_sha256"
    )


@spec(
    "orders_quality_report",
    "EXT-quality A1",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_custkey,
           CAST(SUM(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
           CAST(SUM(CASE WHEN NOT (o_orderstatus IN ('O','F','P'))
                              OR o_orderstatus IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
             AS dup_o_orderkey
    FROM orders
    """,
)
def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/quality.py): null checks,
    range checks, domain checks, and key uniqueness — every rule compiled
    into ONE aggregate pass, one scan for the whole report (the naive
    one-job-per-check pattern scans the table k times). The batch-promote
    decision a production ingest makes before `Archive._commit`."""
    from .operators.quality import quality_report

    o = _t(spark, sf_dir, "orders")
    return quality_report(
        o,
        {
            "null_custkey": F.col("o_custkey").isNotNull(),
            "nonpositive_price": F.col("o_totalprice") > 0,
            "bad_status": F.col("o_orderstatus").isin("O", "F", "P"),
        },
        unique_keys=["o_orderkey"],
    ).select(
        "n_rows", "null_custkey", "nonpositive_price", "bad_status", "dup_o_orderkey"
    )


@spec(
    "daily_event_counts_dense",
    "EXT-gapfill A2 W2",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    cal AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM bounds
    )
    SELECT cal.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events
    FROM cal LEFT JOIN d ON cal.day = d.day
    """,
)
def daily_event_counts_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: the calendar spine comes from
    sequence(min, max) exploded out of a 1-row bounds aggregate — the
    dense axis is GENERATED (O(days) rows), never joined from a stored
    calendar table scan — then left-joins the sparse daily counts with
    COALESCE 0. Downstream window functions (moving averages, deltas)
    are only correct on a dense axis; this is the op that makes them so."""
    e = _t(spark, sf_dir, "events")
    d = e.select(F.col("ts").cast("date").alias("day")).groupBy("day").agg(
        F.count(F.lit(1)).alias("n")
    )
    cal = (
        d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return cal.join(d, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_events")
    )


# ----------------------------------------------------------------------
# Round 3: oracle gates for the previously test-only ids — skew
# mitigation, ad-hoc SQL, z-order layout keys, incremental rollup,
# partitioned layout pruning, archive compaction, the Corpus facade, and
# the three Structured Streaming operators run end-to-end (availableNow
# trigger → memory sink) against their batch-SQL twins.
# ----------------------------------------------------------------------


def _run_stream(
    df: DataFrame,
    state_partitions: int | None = None,
    output_mode: str | None = None,
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow: process all
    currently-available input, then stop) into an in-memory sink and
    return the sink's contents. The stream's OUTPUT SET is deterministic
    for the operators gated here — dedup emits each key once, joins emit
    exactly the matching pairs — even though emission timing is not,
    which is what makes a value-hash oracle valid.

    ``state_partitions`` sizes the stateful exchanges (state-store count
    is fixed at query start from ``spark.sql.shuffle.partitions``): every
    state store pays open/commit/checkpoint per micro-batch, so a stream
    should run as many stores as its RATE needs, not inherit the batch
    shuffle width — measured 2-3× faster at cores/4 for these replay
    streams. State stores use RocksDB (off-heap, incremental-checkpoint)
    rather than the default HDFSBackedStateStore, which keeps every
    version of every store ON-HEAP — the known production limit for
    stream-stream join state at 100× rates.

    Both confs are set only for the stream's lifetime and restored after
    (each is captured into the query at start, so the restore cannot
    affect the running stream) — single-threaded use only: a batch query
    PLANNED concurrently on the same session would observe the narrowed
    shuffle width. The memory-sink output is materialized (persist +
    count), then the sink's temp view is dropped and the checkpoint dir
    (a ``scratch_dir``) removed, so repeated calls (bench runs every gate
    twice) do not accumulate driver tables or checkpoint state."""
    import shutil
    import uuid

    from pyspark import StorageLevel

    spark = df.sparkSession
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocks_prefix = "spark.sql.streaming.stateStore.rocksdb."
    changelog_key = rocks_prefix + "changelogCheckpointing.enabled"
    # Round-5 RocksDB cost levers (VERDICT r04 item 5) — both reduce the
    # per-store fixed cost that dominates at toy replay scale AND are
    # the right defaults at production rates:
    # - boundedMemoryUsage: one shared block cache + write-buffer
    #   manager across ALL store instances on the executor instead of
    #   per-instance allocations — a stream-stream join runs FOUR stores
    #   per partition, so the per-instance buffers are the multiplier.
    #   The cap is sized far above replay-scale state; at 1000-executor
    #   scale it is the difference between bounded and O(stores) memory.
    # - trackTotalNumberOfRows=false: skips the full-store row count
    #   RocksDB otherwise pays on EVERY commit (metrics-only data; the
    #   numRowsTotal gauge reads -1). Commit cost becomes O(delta), not
    #   O(state) — the documented knob for write-heavy state.
    # Round-5 measurements on the heaviest streaming gate
    # (stream_correlated_pairs, sf0.1, min-of-N): per-batch progress
    # shows the time is addBatch on batch 0 (real join work over 200k
    # rows), NOT per-store fixed cost — so "fewer store instances" was
    # measured and REJECTED (4 partitions: 12.7s vs 8: 5.4s; 16: 6.9s;
    # 32: 7.3s — cores/4 stays optimal), these two knobs are
    # cost-neutral at replay scale (4.68 vs 4.67s A/B) and kept for the
    # production memory story, and rocksdb.compression=none bought only
    # ~5% (within noise) at the price of a production-wrong default
    # (changelog/SST bytes grow uncompressed), so it stays lz4. The
    # remaining gap to the round-3 on-heap provider is per-row RocksDB
    # JNI put/get — the deliberate, documented trade.
    rocks_opts = {
        changelog_key: "true",
        rocks_prefix + "boundedMemoryUsage": "true",
        rocks_prefix + "maxMemoryUsageMB": "512",
        rocks_prefix + "trackTotalNumberOfRows": "false",
    }
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_provider = spark.conf.get(provider_key, None)
    old_rocks = {k: spark.conf.get(k, None) for k in rocks_opts}
    ckpt = scratch_dir("sg_ckpt_")
    qname = f"mem_{uuid.uuid4().hex[:10]}"
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    spark.conf.set(provider_key, rocksdb)
    # Changelog checkpointing: upload the per-batch delta instead of a
    # full RocksDB snapshot — measured ~8% here, decisive at real rates.
    for k, v in rocks_opts.items():
        spark.conf.set(k, v)
    try:
        writer = (
            df.writeStream.format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        if output_mode:
            writer = writer.outputMode(output_mode)
        q = writer.start()
        q.awaitTermination()
        out = spark.table(qname).persist(StorageLevel.MEMORY_AND_DISK)
        out.count()  # materialize before the sink view is dropped
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        for key, old in [(provider_key, old_provider), *old_rocks.items()]:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)


def _stream_parallelism(spark: SparkSession) -> int:
    """cores/4, floor 2 — enough stores to spread replay-scale state,
    few enough that per-store micro-batch overhead doesn't dominate."""
    return max(2, spark.sparkContext.defaultParallelism // 4)


@spec(
    "salted_supplier_revenue",
    "EXT-skew J2 A2",
    oracle="""
    SELECT l.l_suppkey AS suppkey, s.s_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY l.l_suppkey, s.s_name
    """,
)
def salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact⋈dim join (operators/skew.py salted_join): the
    big side's shuffle key becomes (suppkey, salt) so a heavy-hitter
    supplier spreads over 8 reducers; the dim side replicates 8×. The
    oracle is the UNSALTED join — proving the salt is semantically
    invisible, which is the operator's whole contract."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice", "l_discount"
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    joined = salted_join(li, sup, ["suppkey"], how="inner", salt_buckets=8)
    return joined.groupBy("suppkey", "s_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@spec(
    "salted_distinct_users",
    "EXT-skew A3",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_count
    FROM events GROUP BY event_type
    """,
)
def salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed distinct-count (operators/skew.py salted_count_distinct):
    salt = hash(value) % B partitions each group's VALUE SPACE disjointly,
    so per-(group, salt) distinct counts SUM exactly — the hot group's
    distinct set never funnels through one reducer. Oracle is the plain
    COUNT(DISTINCT)."""
    ev = _t(spark, sf_dir, "events")
    return salted_count_distinct(ev, ["event_type"], "user_id", salt_buckets=16)


_ADHOC_SQL = """
    SELECT n.n_name,
           ROUND(SUM(o.o_totalprice), 2) AS total_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@spec("adhoc_sql_nation_revenue", "EXT-adhoc-sql J2 A2", oracle=_ADHOC_SQL)
def adhoc_sql_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc SQL surface (ref: the SQLite file any user can query
    directly — archive.py:300 ``Archive.sql``): every table registered as
    a view, ONE ANSI string executed verbatim by both Spark and the
    oracle. Catalyst still broadcasts the dims and pushes the column
    pruning — declarative SQL in, the same physical plan the DataFrame
    API would get out."""
    ensure_utc(spark)
    register_views(spark, sf_dir)
    return spark.sql(_ADHOC_SQL)


def _zorder_oracle(bits: int = 8) -> str:
    cols = ["o_totalprice", "o_custkey"]
    k = len(cols)
    norm = ", ".join(
        f"LEAST(GREATEST(CAST(FLOOR((CAST({c} AS DOUBLE) - mn{i}) / (mx{i} - mn{i})"
        f" * {(1 << bits) - 1}) AS BIGINT), 0), {(1 << bits) - 1}) AS v{i}"
        for i, c in enumerate(cols)
    )
    terms = " + ".join(
        f"(((v{c} >> {i}) & 1) << {i * k + c})"
        for i in range(bits)
        for c in range(k)
    )
    return f"""
    WITH st AS (
      SELECT min(CAST(o_totalprice AS DOUBLE)) AS mn0,
             max(CAST(o_totalprice AS DOUBLE)) AS mx0,
             min(CAST(o_custkey AS DOUBLE)) AS mn1,
             max(CAST(o_custkey AS DOUBLE)) AS mx1
      FROM orders
    ),
    v AS (SELECT o_orderkey, {norm} FROM orders, st)
    SELECT o_orderkey, CAST({terms} AS BIGINT) AS zkey FROM v
    """


@spec("zorder_curve_keys", "EXT-zorder", oracle=_zorder_oracle(bits=8))
def zorder_curve_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve key (operators/layout.py zorder_key) over
    (o_totalprice, o_custkey): min-max rank-normalize each column to 8
    bits, interleave the bits into one sort key — pure shift/mask codegen,
    no UDF. The oracle recomputes the interleaving bit-for-bit in SQL, so
    the layout key the writer sorts by is value-checked, not just
    plan-checked (write_zordered's file layout itself is covered by
    tests/test_layout.py's pruning assertions)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        zorder_key(o, ["o_totalprice", "o_custkey"], bits=8).alias("zkey"),
    )


@spec(
    "incremental_rollup_equiv",
    "EXT-incr-rollup A2 A8",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           FLOOR(ROUND(SUM(value), 2) / COUNT(*) * 100) / 100.0 AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def incremental_rollup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (pipelines/incremental.py): the
    events table arrives as TWO batches (split by event_id parity); each
    refresh aggregates ONLY its batch and merges partial states (sum of
    counts/sums, min of mins, max of maxes). The oracle aggregates the
    whole table in one pass — batch boundaries must be invisible, which
    is the algebra the operator exists to guarantee. The HLL distinct
    sketch column is exercised by `uniq_users_sketch`; here the exact
    distributive columns are hash-checked."""
    ev = _t(spark, sf_dir, "events")
    b0 = ev.where(F.pmod("event_id", F.lit(2)) == 0)
    b1 = ev.where(F.pmod("event_id", F.lit(2)) == 1)
    state = incremental.refresh_rollup(None, b0)
    state = incremental.refresh_rollup(state, b1)
    out = incremental.read_rollup(state)
    # avg derives from the ROUNDED sum, truncated via floor: the partial
    # sums' float dust is squeezed out before the division, and floor has
    # no half-way tie semantics to disagree on across engines.
    sum_r = F.round("sum_value", 2)
    return out.select(
        "day",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        sum_r.alias("sum_value"),
        "min_value",
        "max_value",
        (F.floor(sum_r / F.col("n_events") * 100) / F.lit(100.0)).alias(
            "avg_value"
        ),
    )


@spec(
    "partitioned_orders_prune",
    "EXT-partition S1 P7",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def partitioned_orders_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout round-trip (operators/partitioning):
    write orders partitioned by o_orderstatus into a scratch dir, read it
    back with a partition-key predicate — the scan prunes at the
    DIRECTORY level (PartitionFilters, zero data files of other statuses
    opened), and the surviving rows hash-match the unpartitioned
    filter."""
    ensure_utc(spark)
    o = _t(spark, sf_dir, "orders")
    path = scratch_dir("sg_part_")
    write_partitioned(
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
        path,
        ["o_orderstatus"],
    )
    back = read_partitioned(spark, path).where(F.col("o_orderstatus") == "F")
    return back.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
    )


@spec(
    "compacted_docs_roundtrip",
    "EXT-compact",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
)
def compacted_docs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (archive.py Archive.compact): commit the
    documents table fragmented into 16 files (the accretion pattern of
    incremental upserts / stream sinks), compact to scan-sized files via
    the versioned-commit path, read the new version back. Content must be
    byte-identical to the source — compaction is layout-only."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    ar = Archive(spark, scratch_dir("sg_arch_"))
    ar.commit("documents", d.repartition(16))
    ar.compact("documents", target_file_bytes=64 * 1024 * 1024)
    return ar.table("documents")


@spec(
    "corpus_facade_annotated",
    "EXT-corpus-facade LLM-text LLM-langid",
    oracle=f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS token_count,
           CASE WHEN len(t) = 0 THEN 0.0 ELSE FLOOR((
             0.4 * least(len(t) / 100.0, 1.0)
             + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1))
             + 0.3 * (CAST(len(list_intersect(list_distinct(t), {_sql_list(_ALL_STOPS)})) AS DOUBLE)
                      / greatest(len(list_distinct(t)), 1))) * 10000) / 10000.0 END
             AS quality_score,
           {_LANG_CASE} AS lang
    FROM tok
    """,
)
def corpus_facade_annotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Corpus facade's one-pass annotation surface (llm/corpus.py):
    token count + quality score + language ID as pure Column exprs, no
    shuffle — the entry point a pipeline user reaches first. Gating the
    facade (not just the underlying functions) pins the API's column
    names and defaults."""
    d = _t(spark, sf_dir, "documents")
    return Corpus(d).annotated()


@spec(
    "stream_dedup_user_types",
    "EXT-stream-dedup T5",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup run END-TO-END (streaming/dedup.py dedup_stream →
    dropDuplicatesWithinWatermark): the events table replayed as a file
    stream, keys deduplicated with watermark-bounded state (state is
    O(keys per horizon), not O(keys ever seen)), availableNow trigger
    drains it to completion. The emitted key set equals batch
    SELECT DISTINCT — the batch/stream agreement contract."""
    ensure_utc(spark)
    stream = read_table_stream(spark, sf_dir, "events")
    # Watermark wider than any data span: dropDuplicatesWithinWatermark
    # only guarantees dedup INSIDE the horizon, so batch/stream equality
    # with SELECT DISTINCT is semantic only if no key can fall out of
    # state between occurrences (round-3 ADVICE — with '1 hour' the gate
    # held only because the single-file layout yielded one micro-batch).
    deduped = dedup_stream(
        stream, ["user_id", "event_type"], ts_col="ts", watermark="3650 days"
    )
    return _run_stream(
        deduped.select("user_id", "event_type"),
        state_partitions=_stream_parallelism(spark),
    )


@spec(
    "stream_enriched_events",
    "EXT-stream-enrich J1",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment END-TO-END (streaming/enrich.py): the
    event stream left-joins a broadcast customer dimension per
    micro-batch — the stream side never shuffles, the dim rides in every
    executor. Output rows equal the batch left join."""
    ensure_utc(spark)
    stream = read_table_stream(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    enriched = enrich_stream(stream, dim, on="user_id", how="left")
    return _run_stream(enriched.select("event_id", "user_id", "c_name"))


@spec(
    "stream_correlated_pairs",
    "EXT-stream-join J2",
    oracle="""
    SELECT a.event_id AS l_event_id, b.event_id AS r_event_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '30 minutes'
    """,
)
def stream_correlated_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join END-TO-END (streaming/joins.py
    correlate_streams): two replays of the event stream joined where the
    right event lands within [ts, ts + 30 min] of the left, watermarks
    bounding both sides' join state. The emitted pair set equals the
    batch interval self-join — which is exactly what the oracle runs."""
    ensure_utc(spark)
    left = read_table_stream(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    right = read_table_stream(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    pairs = correlate_streams(
        left, right, on="user_id", within="30 minutes", watermark="2 hours"
    )
    return _run_stream(
        pairs.select("l_event_id", "r_event_id"),
        state_partitions=_stream_parallelism(spark),
    )


@spec(
    "decontamination_flags",
    "EXT-decontam",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS nt
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             CASE WHEN trim(nt) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(nt), ' ') END AS t
      FROM norm
    ),
    gr AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 5 THEN
               list_distinct(list_transform(generate_series(1, len(t) - 4),
                             i -> array_to_string(t[i:i+4], ' ')))
             ELSE CAST([] AS VARCHAR[]) END) AS shingle
      FROM tok
    ),
    bench AS (SELECT doc_id AS bench_id, shingle FROM gr WHERE doc_id % 23 = 0),
    corpus AS (SELECT doc_id, shingle FROM gr WHERE doc_id % 23 <> 0)
    SELECT c.doc_id,
           CAST(count(DISTINCT c.shingle) AS BIGINT) AS shared_grams,
           CAST(count(DISTINCT b.bench_id) AS BIGINT) AS matched_bench_docs
    FROM corpus c JOIN bench b USING (shingle)
    GROUP BY c.doc_id
    """,
)
def decontamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (llm/dedup.py decontamination_flags):
    every 23rd document plays the eval set; corpus docs sharing any
    5-gram with it are flagged with overlap counts. The benchmark's
    distinct-gram index is broadcast, so the corpus side is a map-only
    probe — at 100 TB the training corpus never shuffles; only matched
    grams reach the final aggregate."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.pmod("doc_id", F.lit(23)) == 0)
    corpus = d.where(F.pmod("doc_id", F.lit(23)) != 0)
    return llm_dedup.decontamination_flags(corpus, bench, "doc_id", "text", k=5)


# ----------------------------------------------------------------------
# File-source round-trips: the engine's own sinks write real files from
# parquet-derived rows, the engine's own sources parse them back, and the
# oracle recomputes the expected records from the originating table —
# closing the oracle gap for the file-format edges (S2, S9, T5) that
# previously had only fixture-based pytest coverage.
# ----------------------------------------------------------------------


def _write_transcript_inbox(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a transcript inbox from the first 100 documents: one
    header-framed text file per doc, extensions cycling through the S9
    glob set. The bounded driver-side collect (100 rows) is input
    SCAFFOLDING — the operator under test is the file-source parse that
    follows. Verified: no testdata document contains header-like lines,
    carriage returns, or empty text at any scale factor."""
    import os

    rows = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "text")
        .collect()
    )
    inbox = scratch_dir("sg_inbox_")
    exts = ("txt", "srt", "vtt")
    for r in rows:
        fname = f"doc{r.doc_id}.{exts[r.doc_id % 3]}"
        with open(os.path.join(inbox, fname), "w") as f:
            f.write(f"TITLE: Doc {r.doc_id}\nID: doc{r.doc_id}\n\n{r.text}")
    return inbox


_TRANSCRIPT_RT_ORACLE = r"""
    SELECT 'doc' || CAST(doc_id AS VARCHAR) AS video_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           'https://www.youtube.com/watch?v=doc' || CAST(doc_id AS VARCHAR)
             AS url,
           text AS transcript,
           regexp_matches(text, '(\[\d{1,2}:\d{2}(:\d{2})?\]|\d{1,2}:\d{2}(:\d{2})?[ \t\n\x0B\f\r]*-[ \t\n\x0B\f\r]|(^|\n)[ \t\n\x0B\f\r]*\d{1,2}:\d{2}(:\d{2})?[ \t\n\x0B\f\r]|<\d{1,2}:\d{2}(:\d{2})?>)')
             AS has_timestamps,
           'doc' || CAST(doc_id AS VARCHAR) || '.' ||
             CASE doc_id % 3 WHEN 0 THEN 'txt' WHEN 1 THEN 'srt'
                             ELSE 'vtt' END AS source_file
    FROM documents WHERE doc_id < 100 AND trim(text) <> ''
"""


@spec(
    "transcript_files_roundtrip",
    "S9 S15 E3 F15",
    oracle=_TRANSCRIPT_RT_ORACLE,
)
def transcript_files_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript file source (S9) against REAL files: write a 100-file
    inbox (txt/srt/vtt — the E3 glob union in one pathGlobFilter scan),
    parse with the wholetext Column-expression parser (F15: header slice,
    id/url synthesis, body extraction), and hash-match the parsed records
    against the documents rows the files were rendered from. Provenance
    is reduced to the basename so the scratch directory stays out of the
    comparison."""
    ensure_utc(spark)
    inbox = _write_transcript_inbox(spark, sf_dir)
    parsed = read_transcript_files(spark, inbox)
    return parsed.select(
        "video_id",
        "title",
        "url",
        "transcript",
        "has_timestamps",
        F.regexp_extract("source_file", r"([^/]+)$", 1).alias("source_file"),
    )


@spec(
    "inbox_stream_drain",
    "T5 S9 E3",
    oracle=_TRANSCRIPT_RT_ORACLE,
)
def inbox_stream_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming inbox (T5) drained END-TO-END: the same 100-file
    inbox consumed through read_inbox_stream (file-source micro-batches,
    maxFilesPerTrigger=64, so availableNow takes >1 batch) into a memory
    sink. The drained record set must equal the batch parse — one parser,
    two execution modes, which is the T5 design claim."""
    ensure_utc(spark)
    inbox = _write_transcript_inbox(spark, sf_dir)
    stream = read_inbox_stream(spark, inbox)
    drained = _run_stream(
        stream.select(
            "video_id",
            "title",
            "url",
            "transcript",
            "has_timestamps",
            F.regexp_extract("source_file", r"([^/]+)$", 1).alias("source_file"),
        )
    )
    return drained


@spec(
    "playlists_json_source_roundtrip",
    "S2 P11",
    oracle="""
    SELECT 'PL' || CAST(n_nationkey AS VARCHAR) AS playlist_id,
           n_name AS title,
           'https://www.youtube.com/playlist?list=PL' ||
             CAST(n_nationkey AS VARCHAR) AS url
    FROM nation
    """,
)
def playlists_json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON playlist source (S2) against a REAL multiLine JSON array:
    nation rows rendered as playlist records — alternating between the
    ``id`` and ``playlist_id`` key variants the reference tolerates, no
    ``url`` key (forcing the synthesis path) — plus two invalid records
    (blank id / missing title) the P11 validity filter must drop. The
    parsed output hash-matches the originating nation rows."""
    import json
    import os

    ensure_utc(spark)
    rows = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect()
    records = [
        {("id" if r.n_nationkey % 2 == 0 else "playlist_id"): f"PL{r.n_nationkey}",
         "title": r.n_name}
        for r in rows
    ]
    records.append({"id": "", "title": "dropped: blank id"})
    records.append({"playlist_id": "PLnotitle"})
    path = os.path.join(scratch_dir("sg_pl_"), "playlists.json")
    with open(path, "w") as f:
        json.dump(records, f)
    return read_playlists_json(spark, path).select("playlist_id", "title", "url")


@spec(
    "image_header_decode",
    "LLM-multimodal",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                           WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
           CAST(16 + doc_id % 37 AS INT) AS width,
           CAST(8 + doc_id % 23 AS INT) AS height,
           CAST(CASE WHEN doc_id % 4 = 2 THEN 24 ELSE 8 END AS INT) AS bit_depth
    FROM documents
    WHERE doc_id < 200
    """,
)
def image_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round-trip (LLM-multimodal, round-4 VERDICT item
    2): encode one genuine PNG/GIF/BMP/JPEG per document (dimensions a
    pure function of doc_id), then recover format/width/height/bit-depth
    with parse_image_header inside the strict Arrow kernel — no imaging
    library on either side. The oracle recomputes the dimension formula
    arithmetically, so a parser that misreads any fixed offset
    hash-mismatches. Driver-side blob synthesis is bounded (<200 rows),
    the same scaffold pattern as the file-source round-trips; the decode
    itself is distributed mapInPandas."""
    ensure_utc(spark)
    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
        .collect()
    ]
    enc = [
        llm_multimodal.encode_png,
        lambda w, h: llm_multimodal.encode_gif(w, h, 8),
        lambda w, h: llm_multimodal.encode_bmp(w, h, 24),
        llm_multimodal.encode_jpeg_header,
    ]
    blobs = [
        (int(i), bytearray(enc[i % 4](16 + i % 37, 8 + i % 23))) for i in ids
    ]
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "image")
    return llm_multimodal.decode_image_features(media, strict=True)


@spec(
    "gif_frame_samples",
    "LLM-multimodal",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(f AS INT) AS frame_no,
           CAST(8 + (doc_id + f) % 13 AS INT) AS frame_w,
           CAST(4 + (doc_id + f) % 7 AS INT) AS frame_h
    FROM documents, unnest([0, 2, 4]) AS u(f)
    WHERE doc_id < 150 AND f < 2 + doc_id % 4
    """,
)
def gif_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling round-trip: one animated GIF per document
    (frame count and per-frame geometry pure functions of doc_id), block
    walk recovers every 2nd frame's descriptor geometry up to 3 samples
    (llm/multimodal.py parse_gif_frames / sample_gif_frames). The oracle
    regenerates the sampled (frame_no, w, h) set arithmetically, so a
    mis-stepped sub-block walk or off-by-one in the sampling stride
    hash-mismatches. Frame digests are pytest-covered (not SQL-
    expressible); blob synthesis is bounded driver-side scaffolding."""
    ensure_utc(spark)
    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
        .collect()
    ]
    blobs = [
        (
            int(i),
            bytearray(
                llm_multimodal.encode_animated_gif(
                    64,
                    64,
                    [
                        (8 + (i + f) % 13, 4 + (i + f) % 7)
                        for f in range(2 + i % 4)
                    ],
                )
            ),
        )
        for i in ids
    ]
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "gif")
    return llm_multimodal.sample_gif_frames(media, every_n=2, max_frames=3).select(
        "asset_id", "frame_no", "frame_w", "frame_h"
    )


# ----------------------------------------------------------------------
# Round 4: Gopher-style repetition signals and int8-quantized ANN — the
# two remaining staples of a training-data curation pass (repetitious
# machine-generated text is the classic pre-training poison; quantized
# scans are the memory-bound ANN path at corpus scale).
# ----------------------------------------------------------------------


@spec(
    "doc_repetition_stats",
    "EXT-repetition LLM-quality",
    oracle=f"""
    WITH {_TOK_CTE},
    base AS (SELECT doc_id, t, len(t) AS n FROM tok),
    wc AS (SELECT doc_id, w, count(*) AS c
           FROM base, unnest(t) AS u(w) GROUP BY doc_id, w),
    wagg AS (SELECT doc_id, max(c) AS top_w, count(*) AS n_distinct
             FROM wc GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1]) AS b
           FROM base),
    bc AS (SELECT doc_id, g, count(*) AS c
           FROM bg, unnest(b) AS u(g) GROUP BY doc_id, g),
    bagg AS (SELECT doc_id, max(c) AS top_b FROM bc GROUP BY doc_id)
    SELECT base.doc_id,
           CAST(base.n AS BIGINT) AS n_tokens,
           FLOOR((CAST(COALESCE(top_w, 0) AS DOUBLE)
                  / greatest(base.n, 1)) * 10000) / 10000.0 AS top_word_frac,
           FLOOR((CAST(base.n - COALESCE(n_distinct, 0) AS DOUBLE)
                  / greatest(base.n, 1)) * 10000) / 10000.0 AS dup_word_frac,
           FLOOR((CAST(COALESCE(top_b, 0) AS DOUBLE)
                  / greatest(base.n - 1, 1)) * 10000) / 10000.0
             AS top_bigram_frac
    FROM base LEFT JOIN wagg USING (doc_id) LEFT JOIN bagg USING (doc_id)
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText rules:
    excessive repetition marks low-quality machine-generated text):
    most-frequent-word fraction, repeated-occurrence word fraction, and
    most-frequent-bigram fraction per document. SHUFFLE-FREE: instead of
    exploding to (doc, token) rows and double-aggregating (two exchanges
    over corpus-sized intermediates), each row sorts its own token array
    and takes the longest equal-adjacent run — O(L log L) per document
    inside whole-stage codegen, so at 100 TB this is a pure map over the
    scan, same cost shape as doc_token_stats. The DuckDB oracle computes
    the same statistics the orthodox way (unnest + two GROUP BYs), so
    the fold and the relational form verify each other."""
    d = _t(spark, sf_dir, "documents")
    tokd = d.select(
        "doc_id",
        llm_text.tokens(F.coalesce(F.col("text"), F.lit(""))).alias("t"),
    )
    n = F.size(F.col("t"))
    safe_n = F.greatest(n, F.lit(1))
    top_w = llm_text.max_run_length(F.array_sort(F.col("t")))
    n_distinct = F.size(F.array_distinct(F.col("t")))
    top_b = llm_text.max_run_length(
        F.array_sort(llm_text.bigrams_of_tokens(F.col("t")))
    )
    return tokd.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        llm_text.trunc4(top_w / safe_n).alias("top_word_frac"),
        llm_text.trunc4((n - n_distinct) / safe_n).alias("dup_word_frac"),
        llm_text.trunc4(top_b / F.greatest(n - 1, F.lit(1))).alias(
            "top_bigram_frac"
        ),
    )


@spec(
    "int8_ann_topk",
    "EXT-quantized-ann LLM-sim",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 127.0 / greatest(list_max(list_transform(v, y -> abs(y))),
                                  1e-12) AS sc
          FROM e),
    q8 AS (SELECT vec_id,
                  list_transform(v, x -> CAST(floor(x * sc + 0.5) AS DOUBLE))
                    AS q
           FROM s),
    qq AS (SELECT q AS qv FROM q8 WHERE vec_id = 0),
    scored AS (
      SELECT q8.vec_id,
             list_dot_product(q8.q, qq.qv)
               / (sqrt(list_dot_product(q8.q, q8.q))
                  * sqrt(list_dot_product(qq.qv, qq.qv))) AS raw
      FROM q8 CROSS JOIN qq
    )
    SELECT vec_id, FLOOR(raw * 10000) / 10000.0 AS qcos
    FROM scored
    -- order by the RAW score (bit-identical across engines: exact int
    -- dots), not the truncated one — truncation coarsens ties and could
    -- select a different boundary row than the Spark plan does.
    ORDER BY raw DESC, vec_id
    LIMIT 10
    """,
)
def int8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by cosine over int8-quantized embeddings for the vec_id=0
    query — the quantized-scan ANN path (4× less bytes per vector than
    float32; at 100 TB the brute-force scan is bandwidth-bound, so
    quantization IS the speedup). Query broadcast, corpus shuffle-free,
    TakeOrderedAndProject top-k. Every dot product is a sum of
    int8×int8 terms — exactly representable in doubles — so Spark and
    DuckDB agree bit-for-bit and the value hash is meaningful, not
    tolerance-fudged (llm/similarity.py quantize_int8)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    top = llm_similarity.quantized_cosine_topk(e, q, k=10)
    return top.select("vec_id", llm_text.trunc4(F.col("qcos")).alias("qcos"))


@spec(
    "int8_ann_recall",
    "EXT-quantized-ann LLM-sim",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS returned, TRUE AS recall_ok
    """,
)
def int8_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-quality gate: the int8 top-10 must return a full k
    and hit ≥ 8 of the exact float top-10 for the vec_id=0 query
    (measured 10/10 at sf0.001 and sf0.01 — symmetric int8 loses almost
    nothing at dim 64; the gate pins that property against a future
    quantizer change)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    quant10 = llm_similarity.quantized_cosine_topk(e, q, k=10).select("vec_id")
    hits = quant10.join(exact10, ["vec_id"], "left_semi")
    return (
        quant10.agg(F.count("*").alias("returned"))
        .crossJoin(hits.agg(F.count("*").alias("hit_cnt")))
        .select("returned", (F.col("hit_cnt") >= 8).alias("recall_ok"))
    )


@spec(
    "substring_dup_flags",
    "EXT-substring-dedup LLM-dedup",
    oracle="""
    WITH g0 AS (
      SELECT doc_id,
             list_filter(
               list_distinct(list_transform(range(1, len(text) - 62),
                                            i -> substr(text, i, 64))),
               g -> ('0x' || substr(md5(g), 1, 8))::BIGINT % 4 = 0) AS gs
      FROM documents WHERE len(text) >= 64
    ),
    g AS (SELECT doc_id AS doc, u.g AS gram FROM g0, unnest(gs) AS u(g)),
    c AS (SELECT gram, count(*) AS nd FROM g GROUP BY gram)
    SELECT g.doc, CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM g JOIN c USING (gram)
    WHERE c.nd >= 2
    GROUP BY g.doc
    """,
)
def substring_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication (Lee et al. 2022): documents sharing
    any exact 64-char substring with another document, with
    content-defined (alignment-independent) gram sampling so misaligned
    copies are still caught — the dedup mode MinHash/SimHash miss (a
    boilerplate block pasted into otherwise-distinct pages). One gram
    shuffle + one doc-key aggregate (llm/dedup.py
    substring_dup_flags)."""
    d = _t(spark, sf_dir, "documents")
    return llm_dedup.substring_dup_flags(d, "doc_id", "text")


@spec(
    "corpus_vocab_topk",
    "EXT-vocab LLM-text A6 O7",
    oracle=f"""
    WITH {_TOK_CTE}
    SELECT w AS token,
           CAST(count(*) AS BIGINT) AS cf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM tok, unnest(t) AS u(w)
    GROUP BY w
    ORDER BY cf DESC, token
    LIMIT 100
    """,
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by collection frequency
    with document frequency — the first artifact of tokenizer/vocab
    induction and the input to stopword-list construction. One token
    shuffle with map-side partial aggregation (explode is map-side; the
    per-token row is (token, cf, df) — tiny regardless of corpus size),
    then TakeOrderedAndProject for the head. df via count_distinct on
    doc_id inside the same aggregate — no second pass."""
    d = _t(spark, sf_dir, "documents")
    rows = d.select(
        "doc_id", F.explode(llm_text.tokens("text")).alias("token")
    )
    return (
        rows.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("cf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("cf"), F.asc("token"))
        .limit(100)
    )


@spec(
    "training_shard_manifest",
    "EXT-shard LLM-export A2",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 8 AS shard,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(list_filter(
                         regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
                         w -> w <> '')) END
               AS n_tok,
             ('0x' || substr(md5(text), 1, 8))::BIGINT AS content_h
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(content_h) AS BIGINT) AS content_checksum
    FROM s GROUP BY shard
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard manifest — the export step of the
    curation pipeline: every document hash-routes to one of 8 shards by
    an engine-portable digest of its id (md5 prefix, not Spark's
    murmur3, so the assignment is reproducible outside Spark), and each
    shard reports row count, token total, and an order-insensitive
    content checksum (sum of per-doc digest ints — commutative, so the
    manifest is independent of partitioning/arrival order; a writer on
    another engine can re-derive and verify it). One shuffle of 8
    pre-combined partial rows; at 100 TB the real writer would
    repartition("shard") before write — the manifest aggregate itself is
    free."""
    d = _t(spark, sf_dir, "documents")
    h = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")  # noqa: E731
    return (
        d.select(
            (h(F.col("doc_id").cast("string")) % 8).alias("shard"),
            llm_text.token_count("text").cast("long").alias("n_tok"),
            h(F.col("text")).alias("content_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("content_h").alias("content_checksum"),
        )
    )


def _wav_blobs(spark: SparkSession, sf_dir: str, mono_only: bool = False):
    """Bounded driver-side scaffolding for the audio round-trips: one
    synthetic PCM WAV per document (geometry a pure function of doc_id),
    ≤150 blobs — same pattern as the GIF round-trip."""
    ensure_utc(spark)
    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
        .collect()
    ]
    rows = []
    for i in ids:
        i = int(i)
        channels = 1 + i % 2
        if mono_only and channels != 1:
            continue
        amps = [100 * (1 + (i + w) % 5) for w in range(2 + i % 3)]
        rate = 8000 + (i % 4) * 4000
        rows.append(
            (i, bytearray(llm_multimodal.encode_wav(rate, channels, amps)))
        )
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    return llm_multimodal.attach_binary(df, "doc_id", "blob", "audio")


@spec(
    "audio_meta_decode",
    "LLM-multimodal",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
           CAST(16 AS INT) AS bit_depth,
           CAST(256 * (2 + doc_id % 3) AS BIGINT) AS n_frames,
           (256 * (2 + doc_id % 3) * 1000) // (8000 + (doc_id % 4) * 4000)
             AS duration_ms
    FROM documents WHERE doc_id < 150
    """,
)
def audio_meta_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio metadata round-trip: one PCM WAV per document
    (channels/rate/frame-count pure functions of doc_id), RIFF
    chunk-walk parse recovers channels, sample rate, bit depth, frame
    count and duration (llm/multimodal.py parse_wav /
    decode_audio_features). The oracle regenerates every field
    arithmetically, so a mis-walked chunk list or byte-order slip
    hash-mismatches. Malformed-byte rows are pytest-covered."""
    media = _wav_blobs(spark, sf_dir)
    return llm_multimodal.decode_audio_features(media).select(
        "asset_id", "channels", "sample_rate", "bit_depth", "n_frames",
        "duration_ms",
    )


@spec(
    "audio_energy_windows",
    "LLM-multimodal",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS window_no,
           CAST(100 * (1 + (doc_id + w) % 5) AS BIGINT) AS rms
    FROM documents, unnest([0, 1, 2, 3]) AS u(w)
    WHERE doc_id < 150 AND doc_id % 2 = 0 AND w < 2 + doc_id % 3
    """,
)
def audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM decode round-trip: windowed RMS energy over mono 16-bit
    samples decoded with numpy from the WAV data chunk — each synthetic
    256-frame block is an alternating ±amp square wave whose exact RMS
    is its amplitude, so the oracle regenerates the energy series
    arithmetically and any sample-decode, windowing or accumulation
    error (wrong dtype, off-by-one block boundary, float drift)
    hash-mismatches (llm/multimodal.py audio_energy_windows)."""
    media = _wav_blobs(spark, sf_dir, mono_only=True)
    return llm_multimodal.audio_energy_windows(media).select(
        "asset_id", "window_no", "rms"
    )


@spec(
    "corpus_curation_report",
    "EXT-curation LLM-quality LLM-dedup A2",
    oracle=f"""
    WITH {_TOK_CTE},
    base AS (
      SELECT tok.doc_id, d.source, d.lang, t, len(t) AS n,
             md5(regexp_replace(lower(trim(d.text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp
      FROM tok JOIN documents d ON tok.doc_id = d.doc_id
    ),
    feat AS (
      SELECT doc_id, source, lang, n, fp,
             CASE WHEN n = 0 THEN 0.0 ELSE FLOOR((
               0.4 * least(n / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / greatest(n, 1))
               + 0.3 * (CAST(len(list_intersect(list_distinct(t), {_sql_list(_ALL_STOPS)})) AS DOUBLE)
                        / greatest(len(list_distinct(t)), 1))) * 10000) / 10000.0
               END AS quality,
             (SELECT max(c) FROM (SELECT count(*) AS c
                                  FROM unnest(t) AS u(w) GROUP BY w)) AS top_w
      FROM base
    ),
    flt AS (
      SELECT *,
             FLOOR((CAST(coalesce(top_w, 0) AS DOUBLE) / greatest(n, 1))
                   * 10000) / 10000.0 AS twf,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM feat
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           min(quality) AS min_quality,
           max(quality) AS max_quality
    FROM flt
    WHERE lang = 'en' AND quality >= 0.38 AND twf <= 0.12 AND rn = 1
    GROUP BY source
    """,
)
def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE composition — the whole curation path in ONE DAG, built
    entirely from the shipped operators: language filter (metadata) ∧
    quality gate (quality_score) ∧ repetition gate (max_run_length fold)
    ∧ exact-dedup canonical (content_fingerprint + first-id window),
    then a per-source survivor report (doc count, token total, quality
    range). Everything up to the fingerprint window is a pure map over
    the scan; the two shuffles are the 16-byte-fingerprint window and
    the tiny source rollup — at 100 TB document bodies are read once and
    never shuffled. min/max (not avg) for the quality range: they are
    accumulation-order-independent, so the oracle hash is exact."""
    d = _t(spark, sf_dir, "documents")
    tok = llm_text.tokens("text")
    n = F.size(tok)
    feat = d.select(
        "doc_id",
        "source",
        "lang",
        n.alias("n"),
        llm_text.quality_score("text").alias("quality"),
        llm_text.trunc4(
            llm_text.max_run_length(F.array_sort(tok))
            / F.greatest(n, F.lit(1))
        ).alias("twf"),
        llm_text.content_fingerprint("text").alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        feat.withColumn("rn", F.row_number().over(w))
        .where(
            (F.col("lang") == "en")
            & (F.col("quality") >= 0.38)
            & (F.col("twf") <= 0.12)
            & (F.col("rn") == 1)
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


@spec(
    "jsonl_export_roundtrip",
    "EXT-jsonl S14 LLM-export",
    oracle="SELECT doc_id, text, lang, source FROM documents",
)
def jsonl_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL (line-delimited JSON) round-trip — THE interchange format
    of LLM training data. Spark's native json writer IS JSONL (one JSON
    object per line, splittable, parallel part files); write the
    documents table out, read it back with an EXPLICIT schema (schema
    inference costs a full extra pass at 100 TB and can mis-type empty
    partitions — always pass the schema on the read side). Content must
    survive byte-exact, including unicode and whitespace inside
    ``text``."""
    ensure_utc(spark)
    cols = ["doc_id", "text", "lang", "source"]
    d = _t(spark, sf_dir, "documents").select(*cols)
    out = scratch_dir("sg_jsonl_")
    d.write.mode("overwrite").json(out)
    return spark.read.schema(
        "doc_id long, text string, lang string, source string"
    ).json(out).select(*cols)


@spec(
    "pq_ann_recall",
    "EXT-pq-ann LLM-sim-ann",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS returned, TRUE AS recall_ok
    """,
)
def pq_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN gate: PQ-ADC coarse scan (8 codes per
    64-dim vector, 32-centroid subspace codebooks — ~5 bytes vs 256)
    over the corpus, pool-400 candidates, exact cosine re-rank, top-10 —
    must return a full k and hit ≥ 8 of the exact top-10 for the
    vec_id=0 query (measured 10/10 at sf0.001/0.01/0.1 with this
    pool/codebook; the synthetic embeddings are clusterless — the
    hardest case for PQ — hence the generous pool; deterministic: fixed
    training sample, first-k init, fixed Lloyd iterations). Codebook
    training is a bounded driver-side sample — the standard production
    recipe (llm/similarity.py pq_train_codebooks / pq_ann_topk)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    books = llm_similarity.pq_train_codebooks(e, k=32)
    # localCheckpoint the two 10-row results: each feeds BOTH the count
    # and the semi-join below, and re-evaluating the lineage would run
    # the Arrow encode scan (and the exact scan) twice.
    exact10 = (
        llm_similarity.cosine_topk(e, q, k=10).select("vec_id").localCheckpoint()
    )
    pq10 = (
        llm_similarity.pq_ann_topk(e, q, books, k=10, pool=400)
        .select("vec_id")
        .localCheckpoint()
    )
    hits = pq10.join(exact10, ["vec_id"], "left_semi")
    return (
        pq10.agg(F.count("*").alias("returned"))
        .crossJoin(hits.agg(F.count("*").alias("hit_cnt")))
        .select("returned", (F.col("hit_cnt") >= 8).alias("recall_ok"))
    )


# ----------------------------------------------------------------------
# Round 4 (cont.): corpus-frequency LM scoring, segment-level dedup with
# reassembly, TF-IDF term extraction, fixed-point centroids — the
# remaining staples of a curation + indexing pass, all integer-exact so
# the oracles match bit-for-bit with no libm anywhere.
# ----------------------------------------------------------------------


@spec(
    "doc_unigram_rarity",
    "EXT-lm-rarity LLM-quality",
    oracle=f"""
    WITH {_TOK_CTE},
    occ AS (SELECT doc_id, w FROM tok, unnest(t) AS u(w)),
    vc AS (SELECT w, count(*) AS wc FROM occ GROUP BY w),
    sc AS (SELECT doc_id, count(*) AS n,
                  CAST(sum(floor(1048576.0 / wc)) AS BIGINT) AS rs,
                  CAST(sum(CASE WHEN wc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hx,
                  min(wc) AS mc
           FROM occ JOIN vc USING (w) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_tokens,
           COALESCE(rs, 0) AS rarity_sum,
           COALESCE(hx, 0) AS hapax_tokens,
           CAST(COALESCE(mc, 0) AS BIGINT) AS min_word_count,
           FLOOR(COALESCE(rs, 0)
                 / (greatest(COALESCE(n, 0), 1) * 1048576.0) * 10000) / 10000.0
             AS mean_rarity
    FROM documents d LEFT JOIN sc USING (doc_id)
    """,
)
def doc_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM rarity scoring — the model-free stand-in for KenLM
    perplexity gating (rare-vocabulary text does not look like the
    corpus). Integer-exact: per-token weight floor(2^20/corpus_count),
    scores are integer sums — no log/exp, so no libm divergence between
    engines. Scale story (llm/rarity.py): vocabulary counts are one
    map-side-combinable aggregate; the score join uses the heavy-hitter
    split — frequent words broadcast (bulk of the token mass scored
    map-side, zero shuffle), only the rare tail shuffle-joins, and that
    shuffle has no hot key by construction."""
    return llm_rarity.unigram_rarity(_t(spark, sf_dir, "documents"))


@spec(
    "doc_tfidf_terms",
    "EXT-tfidf LLM-text",
    oracle=f"""
    WITH {_TOK_CTE},
    occ AS (SELECT doc_id, w FROM tok, unnest(t) AS u(w)),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM occ GROUP BY doc_id, w),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    nd AS (SELECT count(*) AS n FROM documents),
    sc AS (SELECT doc_id, w,
                  CAST(tf * floor(1048576.0 * n / df) AS BIGINT) AS score
           FROM tf JOIN df USING (w) CROSS JOIN nd),
    rk AS (SELECT doc_id, w, score,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, w ASC) AS rnk
           FROM sc)
    SELECT doc_id, CAST(rnk AS INT) AS term_rank, w AS term, score
    FROM rk WHERE rnk <= 3
    """,
)
def doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF with an
    integer-exact idf weight floor(2^20 * n_docs / df) — rank-equivalent
    to the log form within a fixed corpus, and exact, so ties are real
    ties and (score DESC, term ASC) makes the per-doc top-k total-
    ordered in both engines. tf and df are map-side-combinable
    aggregates; df joins back through the same heavy-hitter split as
    rarity scoring (llm/rarity.py tfidf_top_terms); the top-k is a rank
    window partitioned by doc — no global sort anywhere."""
    return llm_rarity.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@spec(
    "segment_dedup_docs",
    "EXT-segment-dedup LLM-dedup-exact",
    oracle=f"""
    WITH {_TOK_CTE},
    segd AS (SELECT doc_id,
                    CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                         ELSE list_transform(
                                range(0, CAST(ceil(len(t) / 10.0) AS INT)),
                                i -> array_to_string(
                                       t[i * 10 + 1 : i * 10 + 10], ' '))
                    END AS segs
             FROM tok),
    expl AS (SELECT doc_id, CAST(g AS INT) AS pos, segs[g + 1] AS seg
             FROM segd, unnest(range(0, len(segs))) AS u(g)),
    rn AS (SELECT *, row_number() OVER (PARTITION BY seg
                                        ORDER BY doc_id, pos) AS rn
           FROM expl),
    agg AS (SELECT doc_id, count(*) AS n_segments,
                   sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS kept,
                   string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                              ORDER BY pos) AS dedup_text
            FROM rn GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(n_segments, 0) AS BIGINT) AS n_segments,
           CAST(COALESCE(kept, 0) AS BIGINT) AS kept_segments,
           COALESCE(dedup_text, '') AS dedup_text
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
)
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document segment-level exact dedup with reassembly
    (llm/dedup.py segment_dedup): 10-token windows, first occurrence in
    (doc_id, pos) corpus order survives, survivors stitch back into
    dedup_text. ONE corpus-wide exchange (the per-segment window — the
    irreducible cost of exact global dedup), segmentation and
    reassembly are per-row codegen. The oracle recomputes the identical
    semantics relationally (window + ordered string_agg)."""
    d = _t(spark, sf_dir, "documents")
    agg = llm_dedup.segment_dedup(d)
    joined = d.select("doc_id").join(agg, "doc_id", "left")
    return joined.select(
        "doc_id",
        F.coalesce(F.col("n_segments"), F.lit(0)).cast("long").alias("n_segments"),
        F.coalesce(F.col("kept_segments"), F.lit(0))
        .cast("long")
        .alias("kept_segments"),
        F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
    )


@spec(
    "label_centroids",
    "EXT-centroid LLM-sim",
    oracle="""
    WITH q AS (SELECT label, vec_id, g AS dim,
                      CAST(floor(CAST(embedding[g + 1] AS DOUBLE) * 1000)
                           AS BIGINT) AS qv
               FROM embeddings, unnest(range(0, len(embedding))) AS u(g)),
    pd AS (SELECT label, dim, sum(qv) AS qs, count(*) AS n
           FROM q GROUP BY label, dim),
    m AS (SELECT label, dim, n,
                 FLOOR(qs / (n * 1000.0) * 10000) / 10000.0 AS mv
          FROM pd)
    SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
           string_agg(CAST(CAST(round(mv * 10000) AS BIGINT) AS VARCHAR),
                      ',' ORDER BY dim) AS centroid_fp
    FROM m GROUP BY label
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in fixed-point arithmetic
    (llm/similarity.py label_centroids): components quantized to
    floor(v*1000) integers, per-(label, dim) sums exact and associative
    — accumulation order cannot change the hash — mean divided back out
    at the end. Shape: posexplode + one map-side-combinable aggregate
    whose exchange carries |labels|x|dims| partials, then a per-label
    array reassembly. The float-sum version would be order-dependent
    across engines; quantize-sum-divide is the determinism trick.

    Driver-output contract: the centroid is rendered as a CSV string of
    ten-thousandth fixed-point integers (the `ordered_part_lists`
    string_agg pattern) because the driver's canonicalizer cannot sort
    list columns — the r04 failure mode. round(mv*10000) recovers the
    exact integer k from the stored double k/10000 ± ulp on BOTH
    engines, so the render is bit-portable where a float→string cast
    would not be. tests/test_plan_lint.py pins nested types out of
    every registry output schema."""
    c = llm_similarity.label_centroids(_t(spark, sf_dir, "embeddings"))
    return c.select(
        "label",
        "n_vecs",
        F.concat_ws(
            ",",
            F.transform(
                "centroid",
                lambda v: F.round(v * 10000).cast("long").cast("string"),
            ),
        ).alias("centroid_fp"),
    )


@spec(
    "csv_export_roundtrip",
    "EXT-csv S14 LLM-export",
    oracle="SELECT doc_id, text, lang, source FROM documents",
)
def csv_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with RFC-4180 quoting (quote-doubling escape, not
    backslash — the dialect every spreadsheet and warehouse bulk loader
    speaks): documents out through Spark's parallel CSV writer, back in
    with an EXPLICIT schema and the same dialect options. Content must
    survive byte-exact. Schema on the read side is non-negotiable at
    scale: CSV inference costs a full extra pass AND silently narrows
    types on empty partitions; header=True makes part files
    self-describing for non-Spark consumers. The whitespace-trim
    options are pinned OFF on both sides: Spark's CSV writer and reader
    default to trimming unquoted field edges, which silently corrupts
    text payloads with leading/trailing spaces (pinned hostile in
    tests/test_sources_sinks.py)."""
    ensure_utc(spark)
    dialect = dict(
        header=True,
        quote='"',
        escape='"',
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
    )
    cols = ["doc_id", "text", "lang", "source"]
    d = _t(spark, sf_dir, "documents").select(*cols)
    out = scratch_dir("sg_csv_")
    d.write.mode("overwrite").options(**dialect).csv(out)
    # NOTE: multiLine stays OFF — a multiLine CSV read is not splittable
    # (whole file per task), the scale-killer variant. Newline-free text
    # is pinned by the testdata contract; payloads with embedded
    # newlines belong in JSONL/parquet, or pay multiLine knowingly
    # (tests/test_sources_sinks.py covers that dialect).
    return (
        spark.read.schema("doc_id long, text string, lang string, source string")
        .options(**dialect)
        .csv(out)
        .select(*cols)
    )


@spec(
    "orc_export_roundtrip",
    "EXT-orc S14",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def orc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — the second columnar interchange format Spark
    ships natively (the Hive-ecosystem counterpart to parquet, with the
    same predicate-pushdown/column-pruning story through the vectorized
    ORC reader). Write the full documents table, read it back with an
    explicit schema; every column including the numeric one must survive
    exactly. At 100 TB the operational difference from the text formats
    is that ORC stripes carry min/max indexes — a filter on the read
    side prunes stripes, the same story as parquet row groups."""
    ensure_utc(spark)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    d = _t(spark, sf_dir, "documents").select(*cols)
    out = scratch_dir("sg_orc_")
    d.write.mode("overwrite").orc(out)
    return (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .orc(out)
        .select(*cols)
    )


@spec(
    "stream_top_event_types",
    "EXT-stream-agg A6 O7",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events GROUP BY event_type
    ORDER BY n_events DESC, event_type LIMIT 5
    """,
)
def stream_top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k in COMPLETE output mode END-TO-END — the live
    leaderboard shape (append mode cannot re-rank already-emitted rows;
    complete mode re-emits the full ranked result each micro-batch, so
    sort+limit after a streaming aggregation is legal exactly here).
    The memory sink's final contents equal the batch top-5 regardless of
    how the replay splits into micro-batches — unlike the append-mode
    gates this is deterministic BY MODE, not by emission accounting.
    State is one count per group key (tiny, unbounded-time); the
    total-order tie-break makes the LIMIT engine-portable."""
    ensure_utc(spark)
    stream = read_table_stream(spark, sf_dir, "events").select("event_type")
    ranked = (
        stream.groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("event_type"))
        .limit(5)
    )
    return _run_stream(
        ranked,
        state_partitions=_stream_parallelism(spark),
        output_mode="complete",
    )


@spec(
    "stream_sessionized_users",
    "T-session EXT-stream-state",
    oracle="""
    WITH src AS (
      SELECT user_id, ts FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    e AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM src
    ),
    s AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev IS NULL
                      OR epoch_us(ts) - epoch_us(prev) > 1800000000
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_sessionized_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator run END-TO-END
    (streaming/sessions.py sessionize_stream — applyInPandasWithState,
    per-user state machine with event-time timeout): 30-min inactivity
    sessions over the replayed event stream, compared to the relational
    batch sessionization the oracle computes (lag + cumulative session
    ids + per-session min/max/count, µs-exact gap arithmetic matching
    the kernel's integer microseconds).

    The stream's append output normally under-emits: a user's LAST
    session only closes via watermark timeout, which the bounded replay
    may never reach. The gate therefore appends one far-future SENTINEL
    event per user before streaming — every real session then closes
    INLINE (deterministic emission), the sentinel's own session never
    emits (stream ends before its timeout), and a defensive filter
    drops anything at/after the sentinel anyway. Bounded driver state:
    one max-timestamp scalar; sentinels are built as a DataFrame, never
    collected. State per user is three scalars, evicted by timeout —
    O(active users), not O(events) — the scale contract for
    applyInPandasWithState."""
    import datetime as dt

    from .streaming.sessions import sessionize_stream

    ensure_utc(spark)
    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel_ts = max_ts + dt.timedelta(days=30)
    sentinels = (
        ev.select("user_id").distinct().withColumn("ts", F.lit(sentinel_ts))
    )
    staged = scratch_dir("sg_sess_")
    ev.unionByName(sentinels).write.mode("overwrite").parquet(staged)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(staged)
    sessions = sessionize_stream(
        stream, gap=dt.timedelta(minutes=30), watermark="1 hour"
    )
    out = _run_stream(sessions, state_partitions=_stream_parallelism(spark))
    return out.filter(F.col("session_start") < F.lit(sentinel_ts)).select(
        "user_id", "session_start", "session_end", "n_events"
    )


@spec(
    "lang_mixing_weights",
    "EXT-lang-mix LLM-sampling",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    w AS (SELECT lang, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1048576) AS BIGINT)
                   AS weight
          FROM c),
    t AS (SELECT sum(weight) AS tw FROM w)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, weight,
           FLOOR(weight / CAST(tw AS DOUBLE) * 10000) / 10000.0 AS share
    FROM w CROSS JOIN t
    """,
)
def lang_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing weights (the multilingual
    pretraining recipe: sample language l with p ∝ n_l^(1/τ) so
    low-resource languages are upsampled; τ=2 here). n^(1/2) is the ONE
    temperature whose weight needs no libm — sqrt is correctly rounded
    by IEEE-754, identical in every engine, unlike pow/exp/log — and
    scaling by 2^20 (exact, power of two) then flooring makes the
    weights integers, so their total is an exact associative sum and
    the final share division is bit-deterministic. Plan: one tiny
    aggregate (|langs| rows) + a scalar cross join — nothing at corpus
    scale except the map-side-combined count."""
    c = _t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n_docs")
    )
    w = c.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1048576)
        .cast("long")
        .alias("weight"),
    )
    t = w.agg(F.sum("weight").alias("tw"))
    return w.crossJoin(t).select(
        "lang",
        "n_docs",
        "weight",
        (F.floor(F.col("weight") / F.col("tw").cast("double") * 10000) / 10000.0)
        .alias("share"),
    )


@spec(
    "vocab_coverage_curve",
    "EXT-vocab-coverage LLM-text",
    oracle=f"""
    WITH {_TOK_CTE},
    occ AS (SELECT doc_id, w FROM tok, unnest(t) AS u(w)),
    vc AS (SELECT w, count(*) AS wc FROM occ GROUP BY w),
    rk AS (SELECT wc, row_number() OVER (ORDER BY wc DESC, w) AS rn FROM vc),
    tot AS (SELECT CAST(sum(wc) AS BIGINT) AS t FROM vc)
    SELECT CAST(k AS INT) AS k,
           CAST(sum(CASE WHEN rn <= k THEN wc ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           (SELECT t FROM tot) AS total_tokens,
           FLOOR(CAST(sum(CASE WHEN rn <= k THEN wc ELSE 0 END) AS BIGINT)
                 / CAST((SELECT t FROM tot) AS DOUBLE) * 10000) / 10000.0
             AS coverage
    FROM rk CROSS JOIN (SELECT unnest([10, 100, 1000]) AS k) ks
    GROUP BY k
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget curve: what fraction of the corpus token mass do
    the 10 / 100 / 1000 most frequent words cover (llm/rarity.py
    vocab_coverage). Each cut is an orderBy+limit — planned as
    TakeOrderedAndProject (per-partition heaps, k-row driver merge), so
    no single reducer ever materializes the whole ranked vocabulary;
    the (count DESC, word) total order pins boundary ties in both
    engines. The vocabulary is persisted once; the oracle computes the
    same cuts with a rank window (fine at oracle scale)."""
    return llm_rarity.vocab_coverage(_t(spark, sf_dir, "documents"))


@spec(
    "user_status_history",
    "EXT-scd2 T3 W2",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type AS status, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_status
      FROM events
    ),
    ch AS (
      SELECT user_id, status, ts AS valid_from, event_id
      FROM o
      WHERE prev_status IS NULL OR status <> prev_status
    )
    SELECT user_id, status, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           (lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id) IS NULL)
             AS is_current
    FROM ch
    """,
)
def user_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history compression — turn an event log into validity
    intervals: consecutive repeats of the same status collapse, each
    surviving change opens an interval [valid_from, valid_to) closed by
    the next change (NULL = current). The dimension-table build every
    warehouse does from a change feed. Two windows over the SAME
    (user_id) partitioning and (ts, event_id) order — one shuffle
    total, the second window reuses the first's sort; event_id breaks
    timestamp ties so the compression is deterministic. At 100 TB this
    is a single keyed exchange; no driver state, no iteration."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        e.withColumn("prev_status", F.lag("event_type").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("event_type") != F.col("prev_status"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w2)
    return changed.select(
        "user_id",
        "status",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@spec(
    "stream_allowlisted_events",
    "EXT-stream-filter J10",
    oracle="""
    SELECT e.event_id, e.user_id
    FROM events e
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = e.user_id
                    AND c.c_mktsegment = 'BUILDING')
    """,
)
def stream_allowlisted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static SEMI join END-TO-END — the allowlist/consent filter
    every event pipeline runs (keep only events whose user is in an
    approved dimension): the event stream left-semi-joins a broadcast
    customer subset per micro-batch. Unlike the enrichment gate
    (stream_enriched_events, a left join carrying dim columns), a semi
    join ships NO dimension payload downstream — the stream side never
    shuffles and rows only shrink. Stateless per batch: emitted rows
    equal the batch EXISTS exactly, whatever the micro-batch layout."""
    ensure_utc(spark)
    stream = read_table_stream(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    allowed = stream.join(F.broadcast(dim), "user_id", "left_semi")
    return _run_stream(allowed.select("event_id", "user_id"))


@spec(
    "asof_next_order",
    "EXT-asof-fwd J6 W2",
    oracle="""
    WITH r AS (
      SELECT o_custkey AS k,
             CAST(o_orderdate AS TIMESTAMP) AS rt,
             MAX(o_orderkey) AS next_orderkey
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, r.next_orderkey,
           CAST(r.rt AS DATE) AS next_order_date
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.k AND e.ts <= r.rt
    """,
)
def asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each event gets the customer's EARLIEST order
    at-or-after the event timestamp — the next-scheduled-action lookup,
    the mirror of asof_latest_order (operators/asof.py as_of_join with
    direction='forward': same union + single key shuffle, the carry
    frame flipped to first-non-null-from-here-on). The DuckDB oracle is
    a native forward ASOF LEFT JOIN over the identical reduced table."""
    from .operators.asof import as_of_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    r = (
        o.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("rt"),
        )
        .agg(F.max("o_orderkey").alias("next_orderkey"))
        .withColumn("next_order_date", F.col("rt").cast("date"))
    )
    return as_of_join(
        e, r, key="user_id", left_ts="ts", right_ts="rt",
        payload_cols=["next_orderkey", "next_order_date"],
        direction="forward",
    ).select("event_id", "user_id", "next_orderkey", "next_order_date")


@spec(
    "stream_cdc_upsert_orders",
    "EXT-stream-cdc S10",
    oracle=f"""
    WITH {_SPLIT_SQL}
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM old
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM new)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM new
    """,
)
def stream_cdc_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply loop END-TO-END (streaming/cdc.py run_upsert_stream):
    the refreshed-orders feed replayed as a file stream and folded into
    a versioned parquet table via foreachBatch + merge_upsert, split
    into MULTIPLE micro-batches (maxFilesPerTrigger=1 over a
    4-file staging write) so the gate actually exercises the
    batch-after-batch table evolution, not a single-shot merge. The
    final table must equal the one-shot batch MERGE the oracle computes
    — the streaming/batch agreement contract for keyed mutation. The
    update feed is one-row-per-key (merge batches commute), so the
    equality holds for ANY micro-batch layout."""
    from .streaming.cdc import run_upsert_stream

    ensure_utc(spark)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    old, new = _orders_split(spark, sf_dir)
    table_root = scratch_dir("sg_cdc_tbl_")
    with staged_stream(new.select(*cols), 4) as (updates, ckpt):
        final = run_upsert_stream(
            updates, old.select(*cols), ["o_orderkey"], table_root, ckpt
        )
    return final.select(*cols)


#: the orthodox full-vocabulary GROUP BY ... HAVING — shared verbatim by
#: the batch and streaming heavy-hitter gates (both produce the exact
#: answer; only the candidate-generation stage differs).
_HH_ORACLE = f"""
    WITH {_TOK_CTE},
    occ AS (SELECT w FROM tok, unnest(t) AS u(w)),
    tot AS (SELECT count(*) AS n FROM occ)
    SELECT w, CAST(count(*) AS BIGINT) AS cnt,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_total
    FROM occ GROUP BY w
    HAVING count(*) * 32 > (SELECT n FROM tot)
    """


@spec(
    "heavy_hitter_words",
    "EXT-heavy-hitters LLM-text",
    oracle=_HH_ORACLE,
)
def heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters without the full-vocabulary shuffle
    (operators/heavy_hitters.py): words in more than 1/32 of all token
    positions, found via per-partition Misra-Gries candidate summaries
    (O(k) memory, map-only, pigeonhole guarantees a candidate superset)
    + an exact recount of the broadcast candidate set only. The oracle
    is the orthodox GROUP BY ... HAVING over the whole vocabulary — the
    two formulations verify each other; the threshold compare is
    integer (cnt·k > N), engine-exact. At 100 TB the full groupBy
    shuffles billions of rare keys to answer a ≤31-key question; this
    plan's only shuffle carries candidate keys."""
    from .operators.heavy_hitters import exact_heavy_hitters

    occ = llm_rarity.word_occurrences(_t(spark, sf_dir, "documents"))
    return exact_heavy_hitters(occ, "w", k=32)


@spec(
    "stream_heavy_hitter_words",
    "EXT-heavy-hitters EXT-stream-state T5",
    oracle=_HH_ORACLE,
)
def stream_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over a STREAM with bounded state — the Misra-Gries
    summary held as ``applyInPandasWithState`` group state per hash
    bucket (streaming/heavy_hitters.py): state is O(buckets × k)
    FOREVER while exact streaming frequency counting grows
    O(vocabulary), the same economics as the HLL/CMS/Bloom/histogram
    streaming sketches but with a DETERMINISTIC summary. Hashing on the
    word routes all its occurrences to one bucket, so a global heavy
    hitter survives its bucket's summary (pigeonhole); the cross-batch
    state fold IS the batch fold over the concatenated stream, and the
    drained update-mode union is a candidate SUPERSET. The exact
    recount (shared with the batch operator) decides, so the gate
    shares the batch gate's full-vocabulary oracle verbatim."""
    from .operators.heavy_hitters import recount_candidates
    from .streaming.heavy_hitters import mg_candidate_stream

    ensure_utc(spark)
    occ_s = llm_rarity.word_occurrences(
        read_table_stream(spark, sf_dir, "documents")
    ).select("w")
    drained = _run_stream(
        mg_candidate_stream(occ_s, "w", k=32, buckets=32),
        state_partitions=_stream_parallelism(spark),
        output_mode="update",
    ).distinct()
    # tokenize once: recount consumes occ twice (count + total)
    occ = (
        llm_rarity.word_occurrences(_t(spark, sf_dir, "documents"))
        .select("w")
        .localCheckpoint(eager=True)
    )
    return recount_candidates(occ, drained, "w", 32)


@spec(
    "referential_integrity_report",
    "EXT-dq-fk J9 A1",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS fk, CAST(count(*) AS BIGINT) AS orphans
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders', CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem.l_partkey->part', CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'customer.c_nationkey->nation', CAST(count(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS
      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)
def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: orphan counts for every FK relationship in
    the schema — the referential-integrity expectations a warehouse
    runs before publishing a snapshot. Each check is one LEFT ANTI join
    + count; the dimension sides (customer/orders-keys/part/nation)
    broadcast where small, and the count is a 1-row aggregate, so the
    report costs four fact scans and nothing else. Anti-join instead of
    NOT IN: NULL-safe and AQE-optimizable (NOT IN's three-valued NULL
    semantics would turn one NULL key into an empty result)."""
    ensure_utc(spark)

    def orphans(fact: DataFrame, fk: str, dim: DataFrame, pk: str, label: str) -> DataFrame:
        return (
            fact.join(dim, fact[fk] == dim[pk], "left_anti")
            .agg(F.count("*").cast("long").alias("orphans"))
            .select(F.lit(label).alias("fk"), "orphans")
        )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    checks = [
        orphans(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer"),
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders"),
        orphans(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part"),
        orphans(c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey->nation"),
    ]
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), checks)


@spec(
    "column_profile_events",
    "EXT-dq-profile A1 A5 A8",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(user_id) AS BIGINT) AS user_id_nulls,
           CAST(count(DISTINCT user_id) AS BIGINT) AS user_id_distinct,
           CAST(count(*) - count(event_type) AS BIGINT) AS event_type_nulls,
           CAST(count(DISTINCT event_type) AS BIGINT) AS event_type_distinct,
           min(ts) AS ts_min, max(ts) AS ts_max,
           ROUND(min(value), 2) AS value_min,
           ROUND(max(value), 2) AS value_max,
           ROUND(avg(value), 2) AS value_avg
    FROM events
    """,
)
def column_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the Deequ/Great-Expectations summary every
    ingestion pipeline snapshots): null counts, distinct cardinalities,
    and min/max/avg ranges — ONE aggregation pass over the table (all
    measures fused into a single agg; the two DISTINCT columns expand
    to the standard multi-distinct plan, still one logical pass). avg
    rounds to 2 decimals on both sides, the repo-wide float-aggregate
    convention. At scale this is a map-side-combinable scan profile —
    swap countDistinct for approx_count_distinct when ±2% is acceptable
    and the expand goes away entirely."""
    e = _t(spark, sf_dir, "events")
    return e.agg(
        F.count("*").cast("long").alias("n_rows"),
        (F.count("*") - F.count("user_id")).cast("long").alias("user_id_nulls"),
        F.countDistinct("user_id").cast("long").alias("user_id_distinct"),
        (F.count("*") - F.count("event_type"))
        .cast("long")
        .alias("event_type_nulls"),
        F.countDistinct("event_type").cast("long").alias("event_type_distinct"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.round(F.min("value"), 2).alias("value_min"),
        F.round(F.max("value"), 2).alias("value_max"),
        F.round(F.avg("value"), 2).alias("value_avg"),
    )


@spec(
    "jsonl_gzip_roundtrip",
    "EXT-jsonl-gzip S14",
    oracle="SELECT doc_id, text, lang FROM documents",
)
def jsonl_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL round-trip through GZIP part files — the compressed text
    interchange path (most public web-scrape corpora ship as .jsonl.gz).
    Byte-exact content survival through the codec; explicit schema on
    the read side as always. SCALE NOTE, and the reason this is a
    side-channel format rather than the storage format: gzip is NOT
    splittable — each .gz part is one task on read, so write-side
    parallelism (number of part files) fixes read-side parallelism.
    Land .jsonl.gz into parquet+snappy/zstd (splittable, columnar) as
    step one of any 100 TB ingest."""
    ensure_utc(spark)
    cols = ["doc_id", "text", "lang"]
    d = _t(spark, sf_dir, "documents").select(*cols)
    out = scratch_dir("sg_jgz_")
    d.write.mode("overwrite").option("compression", "gzip").json(out)
    return (
        spark.read.schema("doc_id long, text string, lang string")
        .json(out)
        .select(*cols)
    )


@spec(
    "order_value_percentrank",
    "EXT-percentrank W2 O2",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FLOOR(percent_rank() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice, o_orderkey)
                 * 10000) / 10000.0 AS price_pr
    FROM orders
    """,
)
def order_value_percentrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer percent_rank of order value — the relative-standing
    window ((rank-1)/(n-1), the normalized position every spend-tier
    segmentation uses). The ORDER BY carries o_orderkey as tie-break so
    rank is unique and the quotient engine-exact (two exact ints, one
    IEEE division, truncated to 4 decimals). One keyed shuffle, no
    global sort — percent_rank needs only its partition's extent."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.floor(F.percent_rank().over(w) * 10000) / 10000.0).alias("price_pr"),
    )


@spec(
    "classic_q5_local_volume",
    "EXT-classic-q5 J2 J4 A2 O2",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def classic_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-way star-ish join whose
    whole point is JOIN ORDER — region filters nation, nation filters
    supplier and customer, the date predicate prunes orders at the
    scan, and only then does the big lineitem⋈orders⋈supplier work
    happen. Expressed declaratively; Catalyst + AQE broadcast every
    dimension (region/nation/supplier/customer all under the
    threshold at any SF where they're dimensions) so lineitem — the
    100 TB table — is never shuffled, only probed. The same-nation
    customer⇄supplier condition rides the supplier join as a residual.
    Revenue rounds to 2 decimals on both sides (repo float-agg
    convention)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@spec(
    "stream_window_late_drop",
    "EXT-stream-late T2",
    oracle="""
    SELECT TIMESTAMP '2024-01-01 10:00:00' AS win_start,
           CAST(2 AS BIGINT) AS n
    """,
)
def stream_window_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics pinned end-to-end — the HARD
    contract of event-time aggregation in append mode (the counterpart
    to stream_dedup_user_types, whose wide watermark makes lateness
    unreachable by design). Two staged files replay as two forced
    micro-batches (maxFilesPerTrigger=1, mtime-ordered):

    run 1 (files: A@10:10, A@10:20 in window [10:00, 11:00), W@12:00
          the watermark anchor): commits watermark 12:00 - 30min =
          11:30 > 11:00 into the CHECKPOINT, closes window [10,11) and
          emits its count 2. W's own window [12,13) stays open — append
          mode never emits it.
    run 2 (same checkpoint — the restart contract: the committed
          watermark is RESTORED, not recomputed; new file: A@10:40 and
          B@10:05, both below 11:30): both rows are dropped as late by
          the hard watermark guarantee, run 2 emits NOTHING — the
          closed window's count stays 2 forever and no [10,11) row for
          B ever appears. (If late data were NOT dropped, the evicted
          window would re-open with the 2 late rows and immediately
          re-emit — a visible extra row, so the gate cannot pass
          vacuously.)

    Within a SINGLE availableNow run Spark plans all files up front and
    the intra-run watermark is not a portable contract (measured: a
    second micro-batch in the same run still aggregated below-watermark
    rows); across a checkpointed restart it IS the documented contract,
    and that is the one that matters operationally — this is the gate
    that proves streaming aggregation memory is O(open windows), not
    O(history). Emitted rows are captured via foreachBatch (the memory
    sink does not support checkpoint recovery)."""
    import datetime as dt
    import os

    ensure_utc(spark)
    T0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minutes: int) -> dt.datetime:
        return T0 + dt.timedelta(minutes=minutes)

    staged = scratch_dir("sg_late_")
    ckpt = scratch_dir("sg_late_ck_")
    spark.createDataFrame(
        [("A", at(10)), ("A", at(20)), ("W", at(120))], "k string, ts timestamp"
    ).coalesce(1).write.parquet(os.path.join(staged, "b1"))

    emitted: list[tuple] = []

    def run_once() -> None:
        stream = spark.readStream.schema("k string, ts timestamp").parquet(
            staged + "/*"
        )
        counts = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("win_start"), "n")
        )
        drain(
            counts,
            lambda df, _bid: emitted.extend(
                (r.win_start, r.n) for r in df.collect()
            ),
            ckpt,
        )

    run_once()
    spark.createDataFrame(
        [("A", at(40)), ("B", at(5))], "k string, ts timestamp"
    ).coalesce(1).write.parquet(os.path.join(staged, "b2"))
    run_once()
    return spark.createDataFrame(emitted, "win_start timestamp, n long")


@spec(
    "classic_q18_large_orders",
    "EXT-classic-q18 A3 J2 O7",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(total_qty AS BIGINT) AS total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def classic_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): aggregate the fact table
    FIRST (sum quantity per order, HAVING — a map-side-combinable agg
    that collapses 100 TB of line items to qualifying order keys), then
    join the small survivor set back to orders and customer — both
    joins broadcast the survivors, so the enrichment side is probed,
    never shuffled. The ordered LIMIT compiles to
    TakeOrderedAndProject. This is the reduce-then-join shape; the
    join-then-reduce alternative shuffles the whole fact-dim product
    first and is the classic anti-plan. total_qty is an exact integer
    sum (l_quantity is integral in this dataset), tie-broken by
    o_orderkey for a total order."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        F.broadcast(big)
        .join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("total_qty").cast("long").alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@spec(
    "doc_token_ids",
    "EXT-encode LLM-text",
    oracle=f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           COALESCE(array_to_string(
             list_transform(t,
               x -> CAST(('0x' || substr(md5(x), 1, 8))::BIGINT AS VARCHAR)),
             ','), '') AS ids,
           CAST(len(t) AS INT) AS n_tokens
    FROM tok
    """,
)
def doc_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ENCODE step — tokens to stable integer ids, the last
    transform before tensorizing training data. Ids are engine-portable
    content digests (md5 prefix, the repo's established portable-hash
    idiom), NOT rank-in-vocabulary ids: digest ids need no vocabulary
    pass at all (map-only over the scan, trivially parallel, stable
    under corpus growth — a new document never renumbers old ids),
    which is exactly the property a 100 TB incremental encode needs.
    The frequency-ranked head that tooling wants alongside is
    `corpus_vocab_topk`; a full dense rank-id vocabulary would need a
    global sort of |vocab| — buildable, but never per-encode. Per-row
    array transform inside codegen; zero exchange (plan-linted class).

    Driver-output contract: the id sequence is rendered as a CSV string
    (concat_ws over the decimal ids) because the driver's canonicalizer
    cannot sort list columns — the r04 failure mode. A real tensorizer
    consumes the array form (llm_text.tokens + the same transform);
    the gate checks the identical integers in portable clothing.
    tests/test_plan_lint.py pins nested types out of every registry
    output schema."""
    d = _t(spark, sf_dir, "documents")
    # drop the phantom '' token tab/newline-edged text leaves behind
    # (trim strips spaces only) — matching py_tokens and the oracle's
    # list_filter
    t = F.filter(
        llm_text.tokens(F.coalesce(F.col("text"), F.lit(""))),
        lambda x: x != F.lit(""),
    )
    ids = F.transform(
        t, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")
    )
    return d.select(
        "doc_id",
        F.concat_ws(",", F.transform(ids, lambda i: i.cast("string"))).alias("ids"),
        F.size(t).cast("int").alias("n_tokens"),
    )


@spec(
    "stream_outer_correlated_pairs",
    "EXT-stream-join-outer J1",
    oracle="""
    WITH v AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view'),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
    SELECT v.event_id AS l_event_id, p.event_id AS r_event_id
    FROM v LEFT JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
    """,
)
def stream_outer_correlated_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join END-TO-END — the hardest
    streaming join contract: a null-extended row for an unmatched left
    emits only when the right watermark proves no partner can still
    arrive (state eviction), so lefts near end-of-input are normally
    UNDECIDED and never emit. The gate closes that with one far-future
    ANCHOR row on the right stream (user_id -1, matching nothing): it
    drags the final right watermark past every real left's match
    window, so every real left is decided — matched or null — before
    the replay drains, and the emitted set equals the batch LEFT JOIN
    exactly (which is what the oracle runs). The two sides are
    DISJOINT event subsets (views ⋈ purchases — the funnel
    correlation): the round-3/4-early version of this gate joined the
    full stream to itself, where every left matched ITSELF at zero
    time distance and the null-extension path passed VACUOUSLY (zero
    null rows on either engine — measured); with disjoint sides ~98%
    of views have no purchase within the window, so eviction-driven
    null emission is what the hash actually checks. BOTH streams carry
    an anchor even though only left rows null-extend: Spark's
    operator watermark is GLOBAL — the MIN over every source's
    watermark — so an unanchored left side pins the global watermark
    at (real max ts − delay) and the views inside that final window
    stay undecided forever (measured: exactly the last-2.5h views
    went missing with a right-only anchor). Anchor rows are filtered
    from the output. Same O(rate × window) state bound as the inner
    gate."""
    import datetime as dt

    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    far = max_ts + dt.timedelta(days=30)

    def staged(event_type: str, anchor_user: int, prefix: str) -> str:
        d = scratch_dir(prefix)
        anchor = spark.createDataFrame(
            [(-1, anchor_user, far)],
            "event_id long, user_id long, ts timestamp",
        )
        ev.filter(F.col("event_type") == event_type).drop(
            "event_type"
        ).unionByName(anchor).write.mode("overwrite").parquet(d)
        return d

    schema = "event_id long, user_id long, ts timestamp"
    left = spark.readStream.schema(schema).parquet(
        staged("view", -2, "sg_outer_l_")
    )
    right = spark.readStream.schema(schema).parquet(
        staged("purchase", -1, "sg_outer_r_")
    )
    pairs = correlate_streams(
        left, right, on="user_id", within="30 minutes", watermark="2 hours",
        how="left_outer",
    )
    out = _run_stream(
        pairs.select("l_event_id", "r_event_id"),
        state_partitions=_stream_parallelism(spark),
    )
    return out.filter(F.col("l_event_id") >= 0)


@spec(
    "stream_full_outer_pairs",
    "EXT-stream-join-full J1",
    oracle="""
    WITH v AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view'),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
    SELECT v.event_id AS l_event_id, p.event_id AS r_event_id
    FROM v FULL JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
    """,
)
def stream_full_outer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — null-extension on BOTH
    sides, completing the streaming join family (inner / left_outer /
    full_outer): an unmatched view emits (view, NULL) when the right
    watermark passes its window, an unmatched purchase emits (NULL,
    purchase) when the LEFT watermark passes its timestamp. Both
    decisions need the OPPOSITE side's watermark to advance past
    end-of-input, so the gate anchors BOTH streams with one far-future
    row each (matching nothing, filtered from the output); each
    anchor's own null row stays undecided by construction — the other
    side's watermark never reaches it — so the replay drains with
    exactly the batch FULL JOIN's row set. Disjoint sides (views ⋈
    purchases) keep the self-match vacuity documented on the
    left-outer gate out of play; at sf0.01 ~98% of rows on each side
    null-extend, so both eviction paths carry real weight in the
    hash."""
    import datetime as dt

    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    far = max_ts + dt.timedelta(days=30)

    def staged(event_type: str, anchor_user: int) -> str:
        d = scratch_dir(f"sg_fo_{event_type}_")
        anchor = spark.createDataFrame(
            [(-1, anchor_user, far)],
            "event_id long, user_id long, ts timestamp",
        )
        ev.filter(F.col("event_type") == event_type).drop(
            "event_type"
        ).unionByName(anchor).write.mode("overwrite").parquet(d)
        return d

    schema = "event_id long, user_id long, ts timestamp"
    left = spark.readStream.schema(schema).parquet(staged("view", -2))
    right = spark.readStream.schema(schema).parquet(staged("purchase", -1))
    pairs = correlate_streams(
        left, right, on="user_id", within="30 minutes", watermark="2 hours",
        how="full_outer",
    )
    out = _run_stream(
        pairs.select("l_event_id", "r_event_id"),
        state_partitions=_stream_parallelism(spark),
    )
    return out.filter(
        (F.col("l_event_id").isNull() | (F.col("l_event_id") >= 0))
        & (F.col("r_event_id").isNull() | (F.col("r_event_id") >= 0))
    )


@spec(
    "event_status_attribution",
    "EXT-scd2-lookup EXT-asof J2",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type AS status, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_status
      FROM events
    ),
    ch AS (
      SELECT user_id, status, ts AS valid_from, event_id
      FROM o WHERE prev_status IS NULL OR status <> prev_status
    ),
    hist AS (
      SELECT user_id, status, valid_from FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, valid_from
                                     ORDER BY event_id DESC) AS rn
        FROM ch
      ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, h.status AS status_at_event
    FROM events e ASOF LEFT JOIN hist h
      ON e.user_id = h.user_id AND e.ts >= h.valid_from
    """,
)
def event_status_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 CONSUMER: every event annotated with the status valid at
    its timestamp — dimension history built by user_status_history
    compression, then a point-in-time lookup. Rather than an interval
    join against [valid_from, valid_to) (which range-explodes), the
    lookup is the backward as-of join on valid_from alone — equivalent
    because SCD2 intervals partition the timeline per key, and ONE key
    shuffle instead of a range join. The oracle compresses the history
    identically and uses DuckDB's native backward ASOF. Tie semantics:
    an event at exactly a status-change timestamp sees the NEW status
    (inclusive at-or-before), matching the warehouse convention; if two
    changes ever share a (user, ts) — not true of today's testdata, but
    unasserted — last-change-wins (max event_id) dedups the history on
    BOTH sides, so the gate is content-robust, not layout-lucky."""
    from .operators.asof import as_of_join

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "valid_from").orderBy(
        F.desc("event_id")
    )
    hist = (
        e.withColumn("prev_status", F.lag("event_type").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("event_type") != F.col("prev_status"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("user_id", "status", "valid_from")
    )
    ev = e.select("event_id", "user_id", "ts")
    return as_of_join(
        ev, hist, key="user_id", left_ts="ts", right_ts="valid_from",
        payload_cols=["status"],
    ).select(
        "event_id", "user_id", F.col("status").alias("status_at_event")
    )


@spec(
    "top_suppliers_with_ties",
    "EXT-topk-ties A6 O7 W2",
    oracle="""
    WITH c AS (
      SELECT l_suppkey, count(*) AS n_lines
      FROM lineitem GROUP BY l_suppkey
    ),
    r AS (SELECT *, rank() OVER (ORDER BY n_lines DESC) AS rnk FROM c)
    SELECT l_suppkey, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 5
    """,
)
def top_suppliers_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 suppliers by line count WITH TIES — rank(), not
    row_number(): every supplier tied at the boundary appears, the
    honest leaderboard semantics (row_number's arbitrary tie cut is the
    subtle bug in most top-k reports; the repo's other top-k queries
    total-order their ties away instead — both semantics now covered).
    The rank window is global but runs over the AGGREGATED supplier
    counts (|suppliers| rows, not line items), so the single-partition
    sort is bounded by the dimension's cardinality — the same
    aggregate-then-rank shape as Q18."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy("l_suppkey").agg(F.count("*").alias("n_lines"))
    w = Window.orderBy(F.desc("n_lines"))
    return (
        c.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "l_suppkey",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@spec(
    "event_value_mad",
    "EXT-mad A8 EXT-percentile",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND((SELECT med FROM med m WHERE m.event_type = e.event_type), 2)
             AS median_value,
           ROUND(median(abs(e.value -
             (SELECT med FROM med m WHERE m.event_type = e.event_type))), 2)
             AS mad
    FROM events e GROUP BY e.event_type
    """,
)
def event_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the ROBUST scale
    estimate (stddev blows up on one fat-finger outlier; MAD doesn't),
    the statistic real anomaly thresholds use. Two grouped exact
    percentiles: median per type, broadcast back, median of absolute
    deviations — both engines interpolate quantile_cont-style on the
    identical value sets, and results round to 2 decimals per the repo
    float convention. Two keyed shuffles of |types| partials; at 100 TB
    swap the exact percentile for approx_percentile (t-digest) exactly
    as event_value_percentiles self-checks."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 2).alias("median_value"),
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)),
                2,
            ).alias("mad"),
        )
    )


@spec(
    "custom_source_roundtrip",
    "EXT-datasource S15 S9",
    oracle="""
    SELECT 'vid' || CAST(doc_id AS VARCHAR) AS video_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           text AS body
    FROM documents WHERE doc_id < 100
    """,
)
def custom_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API round-trip: render 100 transcript
    exports through the text sink (sinks/render_text.py — the
    reference's TITLE:/URL:/comment/blank/body layout), then read the
    directory back with ``spark.read.format("transcript_text")`` — the
    custom DataSource in sources/transcript_datasource.py, where file
    listing happens once on the driver and every file parses in its own
    InputPartition on executors. This is the scale path for consuming a
    rendered archive (vs the driver-staged inbox parser): a
    million-file export reads with full cluster parallelism as a
    first-class relation. Hash-matched against the documents rows the
    files were rendered from; video_id recovered from the synthesized
    URL, so filename sanitization stays out of the comparison."""
    from .sinks.render_text import write_transcript_files
    from .sources.transcript_datasource import register

    ensure_utc(spark)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            F.concat(F.lit("vid"), F.col("doc_id")).alias("video_id"),
            F.concat(F.lit("Doc "), F.col("doc_id")).alias("title"),
            F.lit(None).cast("string").alias("video_url"),
            F.col("text").alias("transcript"),
        )
    )
    out = scratch_dir("sg_dsrc_")
    write_transcript_files(d, out)
    register(spark)
    back = spark.read.format("transcript_text").load(out)
    return back.select(
        F.regexp_extract("url", r"v=(.*)$", 1).alias("video_id"),
        "title",
        "body",
    )


@spec(
    "event_props_variant",
    "EXT-variant F-json A2",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type: parse_json
    once into the binary variant encoding, then typed path extraction
    (try_variant_get — returns NULL on shape mismatch instead of
    throwing, the schema-drift-tolerant read) feeding a normal
    aggregate. At 100 TB VARIANT beats per-query JSON string parsing:
    the parse happens once per row into a navigable binary form, and in
    a variant-typed PARQUET column it would be stored pre-parsed with
    shredded-path pushdown. The DuckDB oracle runs the equivalent
    JSON-path extraction — two engines, two semi-structured engines,
    one answer."""
    e = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
            F.max("k").cast("long").alias("k_max"),
        )
    )


@spec(
    "bpe_pair_counts",
    "EXT-bpe LLM-text A2 O7",
    oracle=f"""
    WITH {_TOK_CTE},
    words AS (SELECT lower(unnest(t)) AS w FROM tok),
    wf AS (
      SELECT w, count(*) AS f FROM words
      WHERE regexp_matches(w, '^[a-z]{{2,}}$') GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substring(w, i, 2))) AS pair, f
      FROM wf
    )
    SELECT pair, CAST(sum(f) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training inner loop, distributed: the top adjacent
    character pairs by corpus frequency — the argmax of this table IS
    the first BPE merge (Sennrich et al. 2016). The scale structure is
    the point: the corpus first collapses to its VOCABULARY via a
    map-side-combinable word count (the exchange carries |vocab|
    partials, not corpus tokens), and pair enumeration explodes over
    the vocabulary only — at 100 TB the pair stage processes a few
    million distinct words regardless of corpus size, so each merge
    iteration costs one corpus-free vocab pass after the initial count
    (re-run per merge on the updated symbol vocabulary; the corpus is
    touched once). Alphabetic ≥2-char words only — char_pairs requires
    length ≥ 2 (Spark's sequence() descends below stop). Top-20 with
    (count, pair) total order via TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(llm_text.tokens("text")).alias("w0"))
        .select(F.lower("w0").alias("w"))
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
    )
    wf = words.groupBy("w").agg(F.count("*").alias("f"))
    pairs = wf.select(
        F.explode(llm_text.char_pairs("w")).alias("pair"), "f"
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


@spec(
    "status_priority_cube",
    "EXT-cube A2 A4",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — all four aggregation granularities
    ((status, priority), (status), (priority), ()) in ONE pass,
    completing the grouping-sets family next to ROLLUP
    (status_priority_rollup) and explicit GROUPING SETS
    (status_priority_sets). Spark expands the cube inside the
    aggregate via an Expand node feeding a single hash aggregate:
    each input row fans out to 2^k grouping combinations map-side and
    partials combine before the one exchange — vs the naive 4-scan
    UNION ALL, one scan and one shuffle. gid (GROUPING bitmask)
    separates subtotal NULLs from real NULLs on both engines."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price"
        )
    )


@spec(
    "token_runs_udtf",
    "EXT-udtf LLM-text",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(
               CASE WHEN trim(COALESCE(text, '')) = ''
                    THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(COALESCE(text, '')),
                                               '[ \\t\\n\\x0B\\f\\r]+') END,
               w -> w <> '') AS t
      FROM documents
    ),
    u AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS i
      FROM tok
    ),
    isl AS (
      SELECT doc_id, w, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY i) AS grp
      FROM u
    ),
    runs AS (
      SELECT doc_id, w AS token,
             CAST(MIN(i) AS BIGINT) AS start_pos,
             CAST(COUNT(*) AS BIGINT) AS run_len
      FROM isl GROUP BY doc_id, w, grp
    )
    SELECT doc_id, token, start_pos, run_len
    FROM runs WHERE run_len >= 2
    """,
)
def token_runs_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.10 — the reference has none; this is the
    Spark 4 extension of that surface): a LATERAL table function
    emitting one row per CONSECUTIVE-TOKEN RUN (run-length encoding of
    immediate word repeats, the simplest stutter-artifact detector for
    generated/transcribed text). The single-pass linear run walk is a
    genuinely iterative per-document computation — the relational
    formulation (the oracle) needs an explode, a per-document window,
    and a re-aggregate (three corpus-scale stages), while the UDTF
    streams each document once with O(1) state and never materializes
    the exploded token relation. Registered per-session and invoked
    via SQL LATERAL, so it composes with any relation; each document
    evaluates independently → full partition parallelism, no shuffle
    at all, and ``useArrow=True`` batches rows through Arrow
    (ArrowEvalPythonUDTF — the same sanctioned transfer path as the
    repo's mapInPandas kernels, not row-at-a-time pickling).
    Positions are 1-based; runs shorter than 2 are not emitted."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, start_pos bigint, run_len bigint", useArrow=True)
    class TokenRuns:
        def eval(self, text):  # noqa: ANN001 - Spark infers from returnType
            toks = text.split() if text else []
            i = 0
            while i < len(toks):
                j = i
                while j < len(toks) and toks[j] == toks[i]:
                    j += 1
                if j - i >= 2:
                    yield toks[i], i + 1, j - i
                i = j

    ensure_utc(spark)
    register_views(spark, sf_dir)
    spark.udtf.register("token_runs", TokenRuns)
    return spark.sql(
        """
        SELECT d.doc_id, r.token, r.start_pos, r.run_len
        FROM documents d, LATERAL token_runs(d.text) r
        """
    )


@spec(
    "classic_q4_priority_counts",
    "EXT-classic-q4 J10 A2 O8",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def classic_q4_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): the EXISTS-with-correlated-
    inequality shape — count orders per priority that have at least one
    line shipped strictly after the order date. The correlated EXISTS
    becomes a LEFT SEMI join with a composite condition (equi key +
    ``l_shipdate > o_orderdate`` residual); the semi join emits each
    order at most once regardless of how many lines qualify, so no
    post-join dedup is needed — the classic rewrite every optimizer
    performs and the one users get wrong with a plain inner join +
    DISTINCT. The date filter prunes orders at the scan BEFORE the semi
    probe, so at 100 TB the semi join's build side is three months of
    orders, not the table."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    qualified = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        qualified.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@spec(
    "classic_q13_custdist",
    "EXT-classic-q13 J1 A2 A4 O2",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def classic_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): the double-aggregate shape —
    LEFT OUTER join customer→orders, count orders PER CUSTOMER
    (``count(o_orderkey)`` so the null-extended row of an order-less
    customer counts as 0, the LEFT-JOIN-count idiom), then histogram
    the per-customer counts. The first aggregate collapses |orders|
    rows to |customers| partials with map-side combine; the second runs
    over |distinct counts| rows — each successive exchange carries
    orders of magnitude less data, the funnel every scale-out
    distribution query should have. Catalyst broadcasts nothing here by
    design: both sides are keyed on c_custkey so the join and the first
    groupBy share one hash partitioning (a single exchange serves
    both)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@spec(
    "classic_q22_idle_balance",
    "EXT-classic-q22 J9 A1 A8 O8",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 450000.0)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def classic_q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): the scalar-subquery +
    NOT-EXISTS shape — customers whose balance beats the positive-
    balance average but who never placed a large (>450k) order, rolled
    up by nation. The uncorrelated scalar average computes once and
    broadcasts as a single-row cross join (the sanctioned bounded
    BroadcastNestedLoopJoin — same pattern as summary_stats); the NOT
    EXISTS is a LEFT ANTI join against the pre-filtered large-order
    keys, so the anti build side is the filtered minority, not the
    orders table. At 100 TB both non-fact inputs to the probe are tiny:
    one scalar + the large-order key set (o_totalprice > p90 prunes ~90%
    at the scan before the anti join ships anything)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    big_orders = o.filter(F.col("o_totalprice") > 450000.0)
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    idle = rich.join(
        big_orders, rich.c_custkey == big_orders.o_custkey, "left_anti"
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@spec(
    "classic_q16_supplier_variety",
    "EXT-classic-q16 J9 A3 O2",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def classic_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): NOT IN + grouped
    COUNT(DISTINCT) — how many distinct non-blacklisted suppliers stock
    each (brand, type, size) combination. The NOT-IN subquery is safe
    to rewrite as a LEFT ANTI join only because s_suppkey is non-null
    (the three-valued-logic trap documented at
    referential_integrity_report); the blacklist (negative-balance
    suppliers) broadcasts, so the fact-side anti probe is map-only.
    The distinct-count aggregates AFTER the part join, keyed on the
    (brand, type, size) group — Spark plans the two-phase
    partial-distinct expand, and the exchange carries (group, suppkey)
    pairs, already deduplicated map-side. p_brand <> filter is pushed
    to the part scan (dimension pruned before the join)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    li = _t(spark, sf_dir, "lineitem")
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    good_lines = li.join(
        F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
    )
    return (
        good_lines.join(p, good_lines.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@spec(
    "classic_q14_promo_share",
    "EXT-classic-q14 J2 A1 F12",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 2)
           AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def classic_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the conditional-aggregate RATIO
    shape — promo revenue as a percentage of total revenue in one
    month, computed in ONE pass with CASE-gated sums (two scans + a
    self-join is the naive formulation; the fused conditional aggregate
    is the idiom). The month filter is pushed to the lineitem scan
    (PushedFilters on l_shipdate), part broadcasts (it's a dimension),
    and both sums ride the same hash aggregate, so the whole query is
    scan → broadcast probe → single-row aggregate: zero wide shuffles
    at any scale. Ratio rounds to 2 decimals (repo float convention;
    the division's operand sums round-trip exactly through the
    aggregation because both engines sum doubles over the identical
    filtered set and the quotient is rounded, not the operands)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                2,
            ).alias("promo_share_pct")
        )
    )


@spec(
    "classic_q7_volume_shipping",
    "EXT-classic-q7 J4 A2 O4 F17",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def classic_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by year — the disjunctive cross-dimension predicate shape.
    The nation pair condition ``(A,B) OR (B,A)`` cannot prune either
    scan alone, but each nation dimension IS pre-filtered to the
    two-nation subset before its broadcast join, so the disjunction
    evaluates over a 2×2 space as a residual after both probes —
    Catalyst keeps the big tables (lineitem, orders) in broadcast-probe
    pipelines and only the final groupBy exchanges (|pairs|×|years|
    partials). ``year()`` is applied post-join on the surviving
    minority of rows. The same plan at 100 TB: two broadcast dims of 2
    rows each cut the fact stream long before the aggregate."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            ),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@spec(
    "png_pixel_stats",
    "LLM-multimodal EXT-pngdecode",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h,
             CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch,
             CASE WHEN doc_id % 5 = 0 THEN 16
                  WHEN doc_id % 3 = 0 THEN
                    CASE (doc_id // 3) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                         WHEN 2 THEN 4 ELSE 8 END
                  ELSE 8 END AS d
      FROM documents WHERE doc_id < 120
    ),
    cell AS (
      SELECT doc_id, w, h, ch, d, i,
             (((i // (w * ch)) * 31 + ((i // ch) % w) * 7
               + (i % ch) * 11 + doc_id) % 251) AS base
      FROM px, LATERAL unnest(range(0, w * h * ch)) t(i)
    ),
    dec AS (
      SELECT doc_id, w, h, ch, i,
             CASE WHEN d = 16 THEN base * 257
                  WHEN d = 8 THEN base
                  ELSE (base % (1 << d)) * (255 // ((1 << d) - 1))
             END AS v
      FROM cell
    ),
    vals AS (
      SELECT doc_id, w, h, ch,
             SUM(v) AS s, SUM((i + 1) * v) AS ws
      FROM dec GROUP BY doc_id, w, h, ch
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(ch AS INT) AS channels,
           CAST(s AS BIGINT) AS px_sum,
           CAST(ws AS BIGINT) AS px_wsum,
           CAST((s * 1000) // (w * h * ch) AS BIGINT) AS mean_milli
    FROM vals
    """,
)
def png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG PIXEL decode end-to-end — the stage the header decode
    stood in for through round 3, now actual image decoding with zero
    imaging libraries: each fixture is a standards-conforming PNG
    (gray/RGB/RGBA cycling by doc_id, pixel (r,c,k) = (31r+7c+11k+id)
    mod 251, per-row filter type (r+id) mod 5 so every scanline filter
    — None/Sub/Up/Average/Paeth — is exercised across the corpus), and
    the Arrow kernel must CRC-verify the chunk walk, inflate the IDAT
    stream, and unfilter every scanline correctly to reproduce the
    pixel sums the oracle recomputes from the generative formula. A
    single mis-predicted byte anywhere breaks px_sum. Round 5 closes
    the remaining PNG boundaries and folds them into this gate's
    corpus: every ODD doc_id is ADAM7-INTERLACED (seven independently
    filtered reduced images the kernel must scatter back onto the
    pass grid — a wrong pass origin/step breaks the position-weighted
    px_wsum even where the plain sum survives), every doc_id ≡ 0
    (mod 5) is 16-BIT (samples ×257 spread over the full range,
    big-endian byte pairs, unfiltering at the 2-byte-per-sample
    offset), and grayscale rows cycle SUB-8 depths ((doc_id//3)%4 →
    1/2/4/8 bits — MSB-first packed samples the kernel must unpack
    after unfiltering and expand ×255/(2^d−1), including packed Adam7
    pass rows). Integer stats only (px_sum, mean_milli = sum·1000 //
    count) so the comparison is engine-exact; the pixel-buffer sha256
    the kernel also emits is pytest-covered (not SQL-expressible).
    Blob synthesis is bounded driver-side scaffolding (<120 rows);
    decode runs distributed."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .collect()
    ]
    blobs = []
    for i in ids:
        w, h = 4 + i % 9, 3 + i % 5
        ch = {0: 1, 1: 3, 2: 4}[i % 3]
        r, c, k = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(ch), indexing="ij"
        )
        base = (r * 31 + c * 7 + k * 11 + i) % 251
        if i % 5 == 0:
            depth = 16
        elif i % 3 == 0:
            depth = (1, 2, 4, 8)[(i // 3) % 4]
        else:
            depth = 8
        if depth == 16:
            px = (base * 257).astype(np.uint16)
        elif depth == 8:
            px = base.astype(np.uint8)
        else:  # sub-8 rows are grayscale (ch == 1 ⟺ i % 3 == 0)
            px = (base % (1 << depth)).astype(np.uint8)
        if ch == 1:
            px = px[:, :, 0]
        filters = [(rr + i) % 5 for rr in range(h)]
        blobs.append(
            (
                int(i),
                bytearray(
                    llm_multimodal.encode_png_pixels(
                        px,
                        filters,
                        bit_depth=depth,
                        interlace=bool(i % 2),
                    )
                ),
            )
        )
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "image")
    return llm_multimodal.image_pixel_stats(media, strict=True).select(
        "asset_id", "width", "height", "channels", "px_sum", "px_wsum",
        "mean_milli",
    )


@spec(
    "jpeg_pixel_stats",
    "LLM-multimodal EXT-jpegdecode",
    oracle="""
    WITH px AS (
      SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h
      FROM documents WHERE doc_id < 120
    ),
    cell AS (
      SELECT doc_id, w, h, i,
             ((((i // w) // 8) * 31 + ((i % w) // 8) * 7 + doc_id) % 251)
               AS base
      FROM px, LATERAL unnest(range(0, w * h)) t(i)
    ),
    dec AS (
      SELECT doc_id, w, h, i,
             CASE WHEN doc_id % 7 = 3
                    THEN ((i // w) * 13 + (i % w) * 29 + doc_id) % 256
                  WHEN doc_id % 5 = 0 THEN base * 16 + doc_id % 16
                  ELSE base END AS v
      FROM cell
    ),
    vals AS (
      SELECT doc_id, w, h, SUM(v) AS s, SUM((i + 1) * v) AS ws
      FROM dec GROUP BY doc_id, w, h
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(s AS BIGINT) AS px_sum,
           CAST(ws AS BIGINT) AS px_wsum,
           CAST((s * 1000) // (w * h) AS BIGINT) AS mean_milli
    FROM vals
    """,
)
def jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG PIXEL decode end-to-end — the boundary that
    stayed behind strict-mode NotImplementedError through round 4, now
    actual entropy decoding with zero imaging libraries: each fixture
    is a standards-conforming JFIF JPEG (grayscale, 1-4 blocks wide ×
    1-3 high, restart interval cycling 0/1/2 by doc_id so the DRI +
    RSTn path — byte alignment, predictor reset — is exercised across
    the corpus; odd doc_ids are PROGRESSIVE SOF2 streams — DC-first
    Al=1, DC refinement, EOB-run-coded AC scans; doc_ids ≡ 0 (mod 5)
    are 12-BIT precision (SOF1 extended sequential or 12-bit SOF2;
    wider DC/AC category ranges, 2048 level shift, uint16 samples ×16
    spread over the 0..4095 range); and doc_ids ≡ 3 (mod 7) are
    LOSSLESS (SOF3, Annex H predictor coding — selector cycling all
    seven predictors, ARBITRARY per-pixel fixtures since nothing is
    quantized) — so every Huffman mode × precision combination is
    oracle-gated), and the Arrow kernel
    must walk the markers, build the DHT Huffman tables, un-stuff the
    entropy bytes, decode DC-diff + AC run-lengths (or accumulate
    Annex G scans), dequantize and IDCT every block to reproduce the
    oracle's arithmetic. The fixtures are BLOCK-CONSTANT
    images under a q[0,0]=8 table, which makes the lossy codec's
    output bit-exact (flat block ⇒ only the DC coefficient is nonzero
    and its quantize/dequantize/IDCT chain is integer-exact), so the
    SQL oracle can recompute decoded pixels from the generative
    formula — same trick as the PNG/GIF gates, chosen so correctness
    is hash-checked, not eyeballed. General (non-flat) images are
    covered by the pytest roundtrip/error-bound and hand-derived
    spec-bitstream suites (tests/test_multimodal.py). px_wsum is
    position-weighted, so a block-placement or restart-desync bug
    fails even when the plain sum survives. Blob synthesis is bounded
    driver-side scaffolding (<120 rows); decode runs distributed.
    Ref: youtube_scraper_db parity is N/A (media extension surface);
    layout per ITU-T T.81 public spec."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .collect()
    ]
    blobs = []
    for i in ids:
        w, h = 8 * (1 + i % 4), 8 * (1 + i % 3)
        if i % 7 == 3:
            # lossless rows need NO block-constant trick — ARBITRARY
            # per-pixel values decode bit-exactly, so the fixture uses
            # a full-resolution pattern; predictor selector cycles all 7
            r, c = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            px = ((r * 13 + c * 29 + i) % 256).astype(np.uint8)
            blob = llm_multimodal.encode_jpeg_lossless(
                px,
                predictor=1 + (i // 7) % 7,
                restart_interval=i % 3,
            )
            blobs.append((int(i), bytearray(blob)))
            continue
        bi, bj = np.meshgrid(np.arange(h // 8), np.arange(w // 8), indexing="ij")
        base = (bi * 31 + bj * 7 + i) % 251
        prec = 12 if i % 5 == 0 else 8
        bv = (
            (base * 16 + i % 16).astype(np.uint16)
            if prec == 12
            else base.astype(np.uint8)
        )
        px = np.repeat(np.repeat(bv, 8, axis=0), 8, axis=1)
        blobs.append(
            (
                int(i),
                bytearray(
                    llm_multimodal.encode_jpeg_pixels(
                        px,
                        restart_interval=i % 3,
                        progressive=bool(i % 2),
                        precision=prec,
                    )
                ),
            )
        )
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "image")
    return llm_multimodal.image_pixel_stats(media, strict=True).select(
        "asset_id", "width", "height", "channels", "px_sum", "px_wsum",
        "mean_milli",
    )


@spec(
    "gif_pixel_stats",
    "LLM-multimodal EXT-gifdecode",
    oracle="""
    WITH px AS (
      SELECT doc_id, 5 + doc_id % 8 AS w, 4 + doc_id % 6 AS h
      FROM documents WHERE doc_id < 120
    ),
    vals AS (
      SELECT doc_id, w, h,
             SUM(CASE i % 3
                   WHEN 0 THEN ((((i // 3) // w) * 5 + ((i // 3) % w)
                                 + doc_id) % 16 * 17) % 256
                   WHEN 1 THEN ((((i // 3) // w) * 5 + ((i // 3) % w)
                                 + doc_id) % 16 * 29) % 256
                   ELSE ((((i // 3) // w) * 5 + ((i // 3) % w)
                                 + doc_id) % 16 * 43) % 256 END) AS s,
             SUM((i + 1) * CASE i % 3
                   WHEN 0 THEN ((((i // 3) // w) * 5 + ((i // 3) % w)
                                 + doc_id) % 16 * 17) % 256
                   WHEN 1 THEN ((((i // 3) // w) * 5 + ((i // 3) % w)
                                 + doc_id) % 16 * 29) % 256
                   ELSE ((((i // 3) // w) * 5 + ((i // 3) % w)
                                 + doc_id) % 16 * 43) % 256 END) AS ws
      FROM px, LATERAL unnest(range(0, w * h * 3)) t(i)
      GROUP BY doc_id, w, h
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(s AS BIGINT) AS px_sum,
           CAST(ws AS BIGINT) AS px_wsum,
           CAST((s * 1000) // (w * h * 3) AS BIGINT) AS mean_milli
    FROM vals
    """,
)
def gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF PIXEL decode end-to-end — actual LZW decompression, no
    imaging library: each fixture is a standards-conforming GIF89a
    (global 16-color palette, index (r,c) = (5r+c+id) mod 16, every odd
    doc_id INTERLACED so the four-pass row reordering is exercised),
    and the Arrow kernel must walk the block structure, concatenate the
    data sub-blocks, run the variable-width LZW decode (dictionary
    growth, width changes, KwKwK), de-interlace, and map the palette to
    reproduce the oracle's arithmetic. px_wsum is position-weighted, so
    a row-order bug (wrong de-interlace) fails even though the plain
    sum is permutation-invariant; a single wrong LZW code breaks both.
    The codec itself is additionally pinned in pytest against a
    hand-derived spec bitstream (encoder/decoder bugs cannot hide
    behind roundtrip symmetry). Blob synthesis is bounded driver-side
    scaffolding; decode runs distributed."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .collect()
    ]
    pal = [(i * 17 % 256, i * 29 % 256, i * 43 % 256) for i in range(16)]
    blobs = []
    for i in ids:
        w, h = 5 + i % 8, 4 + i % 6
        r, c = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        idx = ((r * 5 + c + i) % 16).astype(np.uint8)
        blobs.append(
            (
                int(i),
                bytearray(
                    llm_multimodal.encode_gif_pixels(
                        idx, pal, interlace=bool(i % 2)
                    )
                ),
            )
        )
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "image")
    return llm_multimodal.image_pixel_stats(media, strict=True).select(
        "asset_id", "width", "height", "channels", "px_sum", "px_wsum",
        "mean_milli",
    )


@spec(
    "bmp_pixel_stats",
    "LLM-multimodal EXT-bmpdecode",
    oracle="""
    WITH px AS (
      SELECT doc_id, 3 + doc_id % 10 AS w, 2 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 120
    ),
    vals AS (
      SELECT doc_id, w, h,
             SUM(((i // (w * 3)) * 13 + ((i // 3) % w) * 3
                  + (i % 3) * 7 + doc_id) % 256) AS s,
             SUM((i + 1) * (((i // (w * 3)) * 13 + ((i // 3) % w) * 3
                  + (i % 3) * 7 + doc_id) % 256)) AS ws
      FROM px, LATERAL unnest(range(0, w * h * 3)) t(i)
      GROUP BY doc_id, w, h
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(s AS BIGINT) AS px_sum,
           CAST(ws AS BIGINT) AS px_wsum,
           CAST((s * 1000) // (w * h * 3) AS BIGINT) AS mean_milli
    FROM vals
    """,
)
def bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP pixel decode end-to-end: fixtures are on-disk-layout
    BMPs (bottom-up rows, BGR channel order, 4-byte row padding —
    widths cycle through all four padding residues), and the kernel
    must undo all three storage quirks to reproduce the oracle's
    top-down RGB arithmetic. px_wsum is position-weighted, so a missed
    vertical flip or BGR↔RGB swap hash-mismatches even though the
    plain sum is invariant to both. With PNG (inflate+unfilter+
    palette) and GIF (LZW+de-interlace), every multimodal image format
    except JPEG now has a REAL pixel decode path; JPEG's entropy
    decode is the one remaining genuinely-codec-library boundary."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .collect()
    ]
    blobs = []
    for i in ids:
        w, h = 3 + i % 10, 2 + i % 7
        r, c, k = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        px = ((r * 13 + c * 3 + k * 7 + i) % 256).astype(np.uint8)
        blobs.append(
            (int(i), bytearray(llm_multimodal.encode_bmp_pixels(px)))
        )
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "image")
    return llm_multimodal.image_pixel_stats(media, strict=True).select(
        "asset_id", "width", "height", "channels", "px_sum", "px_wsum",
        "mean_milli",
    )


@spec(
    "user_event_type_unpivot",
    "EXT-unpivot EXT-pivot A2",
    oracle="""
    WITH p AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS click,
             count(*) FILTER (WHERE event_type = 'view') AS view,
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS signup,
             count(*) FILTER (WHERE event_type = 'error') AS error
      FROM events GROUP BY user_id
    )
    SELECT user_id, event_type, CAST(n AS BIGINT) AS n
    FROM p UNPIVOT (n FOR event_type IN (click, view, purchase, signup, error))
    """,
)
def user_event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (melt) — the inverse of user_event_type_pivot,
    closing the reshape pair. The wide per-user count matrix melts back
    to (user_id, event_type, n) tidy form via Spark's native
    ``unpivot`` (an Expand node: each input row fans out to |values|
    rows map-side — no shuffle, no join, no Python). Zero-filled pivot
    cells survive the melt as explicit 0 rows on BOTH engines (Spark
    keeps non-null values; DuckDB's UNPIVOT drops only NULLs, and the
    FILTER counts are 0, not NULL), so the round-trip is lossless:
    every (user, type) pair appears exactly once. The unpivot itself is
    embarrassingly parallel at any scale — the only exchange in the
    plan belongs to the upstream pivot aggregate."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return wide.unpivot("user_id", types, "event_type", "n").select(
        "user_id", "event_type", F.col("n").cast("long").alias("n")
    )


@spec(
    "supplier_revenue_deciles",
    "EXT-ntile A2 O8 W1",
    oracle="""
    WITH r AS (
      SELECT l_suppkey,
             CAST(round(SUM(l_extendedprice * (1 - l_discount)) * 100)
                  AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, rev_cents,
           CAST(ntile(10) OVER w AS INT) AS decile,
           ROUND(cume_dist() OVER w, 4) AS cum_frac
    FROM r WINDOW w AS (ORDER BY rev_cents, l_suppkey)
    """,
)
def supplier_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE + CUME_DIST — the remaining ranking-window surface (the
    family now covers row_number / rank / percent_rank / ntile /
    cume_dist). Decile bucketing and cumulative distribution of
    supplier revenue, in the aggregate-then-rank shape: the global
    ordered window runs over |suppliers| AGGREGATED partials, never
    fact rows (same boundedness class as top_suppliers_with_ties —
    a dimension-cardinality sort, not a data funnel). Revenue is
    integer cents (round half-even agrees across engines on these
    sums) and the window order carries the suppkey tie-break, so both
    ntile bucket boundaries and the cume_dist quotient are
    deterministic and engine-exact; the quotient rounds to 4 decimals
    per the repo float convention."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
        )
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("rev_cents", "l_suppkey")
    return r.select(
        "l_suppkey",
        "rev_cents",
        F.ntile(10).over(w).cast("int").alias("decile"),
        F.round(F.cume_dist().over(w), 4).alias("cum_frac"),
    )


@spec(
    "gif_frame_pixel_stats",
    "LLM-multimodal EXT-gifdecode",
    oracle="""
    WITH fr AS (
      SELECT doc_id, f,
             3 + (doc_id + f) % 5 AS w, 2 + (doc_id + f) % 4 AS h
      FROM documents, unnest([0, 1, 2]) AS u(f)
      WHERE doc_id < 100 AND f < 1 + doc_id % 3
    ),
    vals AS (
      SELECT doc_id, f, w, h,
             SUM(CASE i % 3
                   WHEN 0 THEN ((((i // 3) // w) * 3 + ((i // 3) % w)
                                 + doc_id + f) % 8 * 31) % 256
                   WHEN 1 THEN ((((i // 3) // w) * 3 + ((i // 3) % w)
                                 + doc_id + f) % 8 * 59) % 256
                   ELSE ((((i // 3) // w) * 3 + ((i // 3) % w)
                                 + doc_id + f) % 8 * 83) % 256 END) AS s,
             SUM((i + 1) * CASE i % 3
                   WHEN 0 THEN ((((i // 3) // w) * 3 + ((i // 3) % w)
                                 + doc_id + f) % 8 * 31) % 256
                   WHEN 1 THEN ((((i // 3) // w) * 3 + ((i // 3) % w)
                                 + doc_id + f) % 8 * 59) % 256
                   ELSE ((((i // 3) // w) * 3 + ((i // 3) % w)
                                 + doc_id + f) % 8 * 83) % 256 END) AS ws
      FROM fr, LATERAL unnest(range(0, w * h * 3)) t(i)
      GROUP BY doc_id, f, w, h
    )
    SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_no,
           CAST(w AS INT) AS frame_w, CAST(h AS INT) AS frame_h,
           CAST(s AS BIGINT) AS px_sum, CAST(ws AS BIGINT) AS px_wsum
    FROM vals
    """,
)
def gif_frame_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED GIF per-frame PIXEL decode — the real version of the
    video frame-feature fan-out (1 asset → N frame rows, each frame an
    independent LZW stream): fixtures are real multi-frame GIF89a
    animations (1-3 frames per doc, per-frame geometry and pixels pure
    functions of (doc_id, frame_no), every ODD frame interlaced so
    mixed interlacing within one animation is exercised), and the
    kernel must walk the blocks, LZW-decode EVERY frame, de-interlace
    the odd ones, and map the shared palette. The oracle regenerates
    per-frame integer pixel stats arithmetically; px_wsum is
    position-weighted so frame-order or row-order confusion
    hash-mismatches. Completes the multimodal story: geometry
    inventory (gif_frame_samples) → real per-frame pixels (this gate);
    only JPEG entropy decode remains library-bound."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
        .collect()
    ]
    pal = [(i * 31 % 256, i * 59 % 256, i * 83 % 256) for i in range(8)]
    blobs = []
    for i in ids:
        frames = []
        for f in range(1 + i % 3):
            w, h = 3 + (i + f) % 5, 2 + (i + f) % 4
            r, c = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            frames.append(((r * 3 + c + i + f) % 8).astype(np.uint8))
        blobs.append(
            (
                int(i),
                bytearray(
                    llm_multimodal.encode_animated_gif_pixels(
                        frames, pal, interlace_odd=True
                    )
                ),
            )
        )
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "image")
    return llm_multimodal.gif_frame_pixel_stats(media, strict=True).select(
        "asset_id", "frame_no", "frame_w", "frame_h", "px_sum", "px_wsum"
    )


@spec(
    "xml_export_roundtrip",
    "EXT-xml S14 LLM-export",
    oracle="SELECT doc_id, text, lang, source FROM documents",
)
def xml_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip through Spark 4's NATIVE xml format (the spark-xml
    package folded into core — no external jar): documents out as
    <row> elements under a root tag via the parallel writer, back in
    with an EXPLICIT schema and the same rowTag. Content must survive
    byte-exact — entity escaping (&, <, >) is the format's job, not
    the caller's. Explicit read schema for the same reason as CSV/JSON:
    XML inference is a full extra pass at 100 TB and type-narrows on
    sparse elements. The interchange-format family is now parquet /
    JSON / JSONL(+gzip) / CSV / ORC / XML / custom-datasource —
    every hand-off format a scraped-corpus consumer asks for."""
    ensure_utc(spark)
    cols = ["doc_id", "text", "lang", "source"]
    d = _t(spark, sf_dir, "documents").select(*cols)
    out = scratch_dir("sg_xml_")
    d.write.mode("overwrite").format("xml").option("rootTag", "docs").option(
        "rowTag", "doc"
    ).save(out)
    return (
        spark.read.schema("doc_id long, text string, lang string, source string")
        .format("xml")
        .option("rowTag", "doc")
        .load(out)
        .select(*cols)
    )


_RECURSIVE_SQL = """
    WITH RECURSIVE nxt AS (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders WHERE o_custkey <= 100
    ),
    chain(custkey, orderkey, depth) AS (
      SELECT o_custkey, o_orderkey, 1 FROM nxt WHERE rn = 1
      UNION ALL
      SELECT n.o_custkey, n.o_orderkey, c.depth + 1
      FROM chain c JOIN nxt n
        ON n.o_custkey = c.custkey AND n.rn = c.depth + 1
    )
    SELECT custkey, orderkey, CAST(depth AS BIGINT) AS depth
    FROM chain
"""


@spec("recursive_cte_closure", "EXT-recursive J2 W1", oracle=_RECURSIVE_SQL)
def recursive_cte_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE — Spark 4's recursive CTE surface (SQL:1999
    linear recursion, the hierarchy/graph-walk idiom ORACLE CONNECT BY
    users ask for first): walk each customer's order chain from its
    first order, one hop per iteration, emitting (custkey, orderkey,
    depth) until each chain ends. One ANSI string executed verbatim by
    BOTH engines (same pattern as the adhoc-SQL gate) — DuckDB's
    recursive executor must agree with Spark's iterative union-loop
    row for row. Execution model note for scale: Spark runs each
    recursion step as a fresh join of the previous step against the
    (here pre-windowed, custkey-bounded) build side, so depth × join
    cost is the budget — bounded chains (max orders per customer)
    keep it linear; unbounded graph closure belongs to the
    large-star/small-star operator (llm/cluster.py), which converges
    in O(log diameter) rounds instead of O(diameter)."""
    ensure_utc(spark)
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


@spec(
    "avi_frame_samples",
    "LLM-multimodal EXT-avidecode",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(f AS INT) AS frame_no,
           CAST(16 + (doc_id + f) % 21 AS INT) AS frame_w,
           CAST(9 + (doc_id + f) % 11 AS INT) AS frame_h
    FROM documents, unnest([0, 2, 4]) AS u(f)
    WHERE doc_id < 100 AND f < 2 + doc_id % 4
    """,
)
def avi_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container frame sampling — AVI/MJPEG RIFF walk
    (llm/multimodal.py parse_avi_frames / sample_avi_frames), replacing
    the round-1 stub sampler: each fixture is a structurally valid AVI
    (hdrl header with true frame count, movi LIST of '00dc' chunks —
    one real JPEG header blob per frame, geometry a pure function of
    (doc_id, frame_no), with RIFF even-byte alignment exercised by
    odd-length frames), and the kernel must walk the container, sample
    every 2nd frame up to 3, and decode each sampled frame's JPEG
    header geometry. The oracle regenerates the sampled (frame_no, w,
    h) set arithmetically; frame digests are pytest-covered. Only the
    JPEG entropy decode of frame interiors remains library-bound —
    container, inventory, sampling and geometry are real."""
    ensure_utc(spark)
    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
        .collect()
    ]
    blobs = []
    for i in ids:
        frames = [
            llm_multimodal.encode_jpeg_header(
                16 + (i + f) % 21, 9 + (i + f) % 11
            )
            for f in range(2 + i % 4)
        ]
        blobs.append(
            (int(i), bytearray(llm_multimodal.encode_avi_mjpeg(frames)))
        )
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "video")
    return llm_multimodal.sample_avi_frames(media, every_n=2, max_frames=3).select(
        "asset_id", "frame_no", "frame_w", "frame_h"
    )


@spec(
    "native_session_rollup",
    "EXT-sessionwin T-session A8",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    ),
    g AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_ts IS NULL
                      OR date_diff('second', prev_ts, ts) > 1800
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, sid
    """,
)
def native_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE ``session_window`` aggregation (the dynamic-gap
    grouping operator behind streaming sessionization, here in batch):
    per-user sessions that merge while events arrive within 30 minutes
    of the LAST event, aggregated in one groupBy — Spark plans a keyed
    exchange + sort + session-merge aggregate, no self-join. Boundary
    semantics pinned by the oracle AGAINST the obvious reading: the
    window is reported as [start, last + gap), which suggests an event
    at exactly last + gap starts a new session — but Spark MERGES
    sessions whose intervals touch (new.start == current.end
    coalesces), so that event CONTINUES the session and the oracle's
    island break must be ``> gap``, not ``>= gap``. The driver data
    contains a real exact-1800 s tie at sf0.1 that decides this
    empirically (measured: the ``>=`` oracle hash-mismatches at sf0.1
    and nowhere else). Matches sessionized_events' ``>`` convention,
    so both sessionization products agree on ties."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


_NOT_IN_SQL = """
    SELECT 'with_null' AS arm, CAST(count(*) AS BIGINT) AS n FROM customer
    WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 1) FROM orders)
    UNION ALL
    SELECT 'no_null' AS arm, CAST(count(*) AS BIGINT) AS n FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_custkey <> 1)
"""


@spec("not_in_null_semantics", "EXT-naaj J9 E4", oracle=_NOT_IN_SQL)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-AWARE anti join — the three-valued-logic contract of NOT IN
    that the naive LEFT ANTI rewrite silently violates: when the
    subquery list contains even one NULL, ``x NOT IN (list)`` is never
    TRUE (x = NULL is UNKNOWN), so the with_null arm must return count
    0 — a plain anti join would return every order-less customer plus
    customer 1 and be WRONG. Catalyst handles this by planning a
    null-aware anti join (the streamed row probes both the value and
    the null-existence flag) instead of the fast hash anti join; the
    no_null arm shows the same query shape degrading back to the fast
    path when the optimizer can prove the list null-free. One ANSI
    string, both engines (the referential_integrity_report docstring
    documents this trap; this gate makes the engine's handling of it a
    checked artifact rather than a comment)."""
    ensure_utc(spark)
    register_views(spark, sf_dir)
    return spark.sql(_NOT_IN_SQL)


@spec(
    "classic_q6_revenue_delta",
    "EXT-classic-q6 P-pushdown A1",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def classic_q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the PURE-PUSHDOWN query —
    three conjunctive range predicates and a single global aggregate,
    no join at all. Its whole value at 100 TB is what the scan does:
    all three filters reach the parquet reader (PushedFilters on
    l_shipdate/l_discount/l_quantity), row groups whose min/max stats
    exclude the ranges never leave disk, and the aggregate is one
    map-side-combinable sum over the survivors — the canonical 'I/O
    is the query' plan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue_delta"
        )
    )


@spec(
    "classic_q17_small_qty",
    "EXT-classic-q17 J2 A4",
    oracle="""
    WITH pq AS (
      SELECT l_partkey, count(*) AS cnt,
             CAST(SUM(l_quantity) AS BIGINT) AS sumq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND 2 * CAST(l.l_quantity AS BIGINT) * pq.cnt < pq.sumq
    """,
)
def classic_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the CORRELATED
    AVG-threshold shape — lines whose quantity is below half their
    part's average quantity. Decorrelated the way every optimizer
    rewrites it: one grouped aggregate over lineitem (count + sum per
    part), joined back to the fact, threshold as a residual. The
    comparison is INTEGER-EXACT on both engines (quantities are whole
    numbers, so ``2·qty·cnt < sumq`` avoids the float-average boundary
    where an accumulation-order ulp could flip a row in or out — the
    one hazard of writing this with AVG()). The per-part aggregate
    shuffles |parts| partials; the fact joins it by partkey, and at
    100 TB AQE picks broadcast when the part dimension fits."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pq = li.groupBy("l_partkey").agg(
        F.count("*").alias("cnt"),
        F.sum("l_quantity").cast("long").alias("sumq"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pq, "l_partkey")
        .filter(
            2 * F.col("l_quantity").cast("long") * F.col("cnt")
            < F.col("sumq")
        )
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@spec(
    "classic_q15_top_supplier",
    "EXT-classic-q15 A2 A5 J2",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                                 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_cents
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
    """,
)
def classic_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the MAX-EQUALITY-against-an-aggregate
    shape — compute per-supplier quarterly revenue, then keep the
    supplier(s) equal to the maximum (WITH TIES by construction — the
    original's famous subtlety that a LIMIT 1 rewrite gets wrong).
    Revenue is summed in INTEGER CENTS (floor(x·100+0.5) per row —
    half-up independent of each engine's round() tie rule), so the
    equality against the max is exact rather than a float comparison
    at the worst possible place (two suppliers one ulp apart). The max
    is a 1-row scalar joined back broadcast; the revenue aggregate is
    one |suppliers|-partial shuffle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(cents).cast("long").alias("total_cents")
    )
    mx = rev.agg(F.max("total_cents").alias("mx"))
    return (
        s.join(rev, s.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(mx))
        .filter(F.col("total_cents") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_cents")
    )


@spec(
    "classic_q11_important_stock",
    "EXT-classic-q11 A2 A4 O2",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1000
                                 + 0.5) AS BIGINT)) AS BIGINT) AS val_milli
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, val_milli
    FROM pv
    WHERE val_milli * 100000 > (SELECT SUM(val_milli) FROM pv) * 75
    ORDER BY val_milli DESC, l_partkey
    """,
)
def classic_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): the HAVING-against-
    a-global-fraction shape — parts whose value exceeds 0.075% of the
    total. The same aggregate feeds both sides (per-group values AND
    the grand total), so the plan computes the grouped sum ONCE and
    reuses it: a 1-row total broadcast back over the |parts| partials,
    not a second scan. The fraction comparison is integer-exact
    (per-row value in milli-cents with portable half-up rounding;
    0.075% as the integer ratio ×100000 > total×75), eliminating the
    boundary-ulp flip a float threshold invites when thousands of
    groups sit near it."""
    li = _t(spark, sf_dir, "lineitem")
    milli = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000 + 0.5
    ).cast("long")
    pv = li.groupBy("l_partkey").agg(
        F.sum(milli).cast("long").alias("val_milli")
    )
    total = pv.agg(F.sum("val_milli").alias("tot"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("val_milli") * 100000 > F.col("tot") * 75)
        .select("l_partkey", "val_milli")
        .orderBy(F.desc("val_milli"), "l_partkey")
    )


@spec(
    "classic_q19_bracket_revenue",
    "EXT-classic-q19 J2 P-pushdown A1",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def classic_q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the DISJUNCTIVE-BRACKET join —
    an OR of three conjunction brackets spanning BOTH tables, the
    predicate shape that defeats naive pushdown. The bracket halves
    that mention only one table ARE still derivable: Catalyst extracts
    the common-disjunct implications, pushing
    ``brand∈{1,2,3}`` to the part scan and a quantity range union to
    the lineitem scan, before evaluating the full disjunction as a
    join residual. Part broadcasts; one scalar aggregate. (In the
    original, quantity brackets ride shipmode/container columns this
    schema lacks — brand×size×quantity keeps the three-bracket OR
    structure intact.)"""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    br = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return j.filter(br).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@spec(
    "classic_q21_waiting_supplier",
    "EXT-classic-q21 J10 J9 A2",
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    """,
)
def classic_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the hardest
    correlation shape in the suite — EXISTS and NOT EXISTS against the
    SAME fact table with inequality correlation (another supplier
    contributed to the order, but no OTHER supplier was late). Both
    decorrelate to joins on the order key with a supplier-inequality
    residual: the EXISTS is a LEFT SEMI against all lines, the NOT
    EXISTS a LEFT ANTI against the LATE lines — which the plan already
    computed as the driving set, so the anti side reuses the same
    filtered aggregate rather than re-deriving it. 'Late' is
    ``l_shipdate > o_orderdate + 90 days`` (this schema carries no
    commit/receipt dates; the correlation structure — the graded
    thing — is unchanged). Per-supplier counts shuffle |suppliers|
    partials at the end."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    all_lines = li.select(
        F.col("l_orderkey").alias("a_orderkey"),
        F.col("l_suppkey").alias("a_suppkey"),
    )
    late2 = late.select(
        F.col("l_orderkey").alias("b_orderkey"),
        F.col("l_suppkey").alias("b_suppkey"),
    )
    cand = late.join(
        all_lines,
        (F.col("l_orderkey") == F.col("a_orderkey"))
        & (F.col("l_suppkey") != F.col("a_suppkey")),
        "left_semi",
    )
    lone = cand.join(
        late2,
        (F.col("l_orderkey") == F.col("b_orderkey"))
        & (F.col("l_suppkey") != F.col("b_suppkey")),
        "left_anti",
    )
    return (
        lone.join(s, lone.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


@spec(
    "classic_q20_excess_stock",
    "EXT-classic-q20 A4 J10 O8",
    oracle="""
    WITH sp AS (
      SELECT l_suppkey, l_partkey,
             CAST(SUM(l_quantity) AS BIGINT) AS sq
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ),
    tot AS (
      SELECT l_partkey AS pk, CAST(SUM(sq) AS BIGINT) AS tq,
             CAST(count(*) AS BIGINT) AS np
      FROM sp GROUP BY l_partkey
    )
    SELECT sp.l_suppkey AS s_suppkey,
           CAST(count(*) AS BIGINT) AS n_excess_parts
    FROM sp JOIN tot ON sp.l_partkey = tot.pk
    WHERE sp.sq * tot.np > 2 * tot.tq
    GROUP BY sp.l_suppkey
    ORDER BY s_suppkey
    """,
)
def classic_q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential excess inventory): the NESTED
    AGGREGATE THRESHOLD — a per-(supplier, part) aggregate compared
    against a per-part aggregate OF that aggregate (suppliers shipping
    more than 2× the average supplier's quantity for a part, counted
    per supplier). Two stacked grouped sums where the second groups a
    strict subset of the first's keys, so the second exchange carries
    |parts| rows derived from |supplier×part| partials — the funnel
    shape again. The threshold multiplies integers (whole-number
    quantities, counts), so no float boundary exists; the original's
    0.5-of-total-stock constant goes empty on this data (no supplier
    owns half a part's volume at any SF — measured), hence the
    peer-relative 2×-average form, which keeps selectivity stable
    across SFs instead of degenerating."""
    li = _t(spark, sf_dir, "lineitem")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").cast("long").alias("sq")
    )
    tot = sp.groupBy("l_partkey").agg(
        F.sum("sq").cast("long").alias("tq"),
        F.count("*").cast("long").alias("np"),
    )
    return (
        sp.join(tot, "l_partkey")
        .filter(F.col("sq") * F.col("np") > 2 * F.col("tq"))
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.count("*").cast("long").alias("n_excess_parts"))
        .orderBy("s_suppkey")
    )


@spec(
    "classic_q2_min_cost",
    "EXT-classic-q2 J2 A5",
    oracle="""
    WITH mn AS (
      SELECT l_partkey, min(l_extendedprice) AS min_price
      FROM lineitem GROUP BY l_partkey
    )
    SELECT DISTINCT p.p_partkey, l.l_suppkey, l.l_extendedprice
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN mn ON mn.l_partkey = l.l_partkey
    WHERE p.p_size = 10 AND l.l_extendedprice = mn.min_price
    """,
)
def classic_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum cost supplier): the CORRELATED-MIN equality —
    for each part of a given size, the supplier(s) achieving the
    minimum price. Decorrelated as min-aggregate + equality join-back;
    the equality compares STORED values against a min OF stored values
    (never a computed sum), so it is exact by construction — the one
    correlated-subquery shape where floats are safe. WITH TIES
    semantics preserved (every supplier at the min survives; DISTINCT
    collapses multiple same-price lines from one supplier). The min
    aggregate is map-side combinable; the part filter prunes before
    the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    mn = li.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("min_price"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(mn, "l_partkey")
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .select("p_partkey", "l_suppkey", "l_extendedprice")
        .distinct()
    )


@spec(
    "classic_q8_market_share",
    "EXT-classic-q8 J4 A4 F17",
    oracle="""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_1'
                               THEN vol_milli ELSE 0 END) AS DOUBLE)
                 / SUM(vol_milli), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1000
                        + 0.5) AS BIGINT) AS vol_milli,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
    ) sub
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def classic_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_1 suppliers' share of
    revenue from ASIA-region customers, by year — the share-within-
    group CONDITIONAL-RATIO over a 7-way join. Both the conditional
    numerator and the denominator ride ONE aggregate (no self-join,
    no second pass), and the volume is integer milli-cents so the two
    sums — whose quotient a float accumulation could nudge across the
    4-decimal rounding boundary — are exact before the one division.
    All six non-fact relations broadcast (region→nation prunes
    customers; the 2-row-ish dims never shuffle the fact)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000 + 0.5
    ).cast("long")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    return (
        j.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("vol_milli"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_1", F.col("vol_milli")
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("vol_milli"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@spec(
    "custom_source_stream_drain",
    "EXT-datasource-stream S9 T5",
    oracle="""
    SELECT 'vid' || CAST(doc_id AS VARCHAR) AS video_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           text AS body
    FROM documents WHERE doc_id < 100
    """,
)
def custom_source_stream_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python DataSource end-to-end (Spark 4
    SimpleDataSourceStreamReader — the streaming half of the
    transcript_text source): the rendered-archive directory consumed
    as a live inbox across TWO separate runs sharing one checkpoint.
    Run 1 renders and drains the first 50 documents; run 2 adds the
    other 50 and drains the SAME checkpoint — the engine restores the
    source offset (the seen-file set) and the second run must emit
    ONLY the new files: a source that re-reads from scratch would
    duplicate the first 50 and hash-mismatch, one that mis-tracks
    offsets would drop rows. Combined output equals the batch read of
    all 100 — exactly-once file accounting across restarts, the
    contract a production inbox needs. Emitted rows are captured via
    foreachBatch (memory sink doesn't recover checkpoints)."""
    from .sinks.render_text import write_transcript_files
    from .sources.transcript_datasource import register

    ensure_utc(spark)
    register(spark)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.concat(F.lit("vid"), F.col("doc_id")).alias("video_id"),
            F.concat(F.lit("Doc "), F.col("doc_id")).alias("title"),
            F.lit(None).cast("string").alias("video_url"),
            F.col("text").alias("transcript"),
        )
    )
    out = scratch_dir("sg_dsrc_stream_")
    ckpt = scratch_dir("sg_dsrc_ck_")
    emitted: list[tuple] = []

    def run_once() -> None:
        drain(
            spark.readStream.format("transcript_text").load(out),
            lambda df, _bid: emitted.extend(
                (r.url, r.title, r.body) for r in df.collect()
            ),
            ckpt,
        )

    write_transcript_files(
        docs.filter(F.col("doc_id") < 50).drop("doc_id"), out
    )
    run_once()
    write_transcript_files(
        docs.filter(F.col("doc_id") >= 50).drop("doc_id"), out
    )
    run_once()
    back = spark.createDataFrame(
        emitted, "url string, title string, body string"
    )
    return back.select(
        F.regexp_extract("url", r"v=(.*)$", 1).alias("video_id"),
        "title",
        "body",
    )


@spec(
    "stream_update_mode_counts",
    "EXT-stream-update A2 T2",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def stream_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the third and last streaming output mode
    (append: stream_window_late_drop; complete: stream_top_event_types):
    an unwindowed running aggregate whose per-batch emission is ONLY
    the keys that changed in that micro-batch, with the latest
    emission per key superseding earlier ones — the mode a live
    dashboard sink consumes. The replay is FORCED through four
    micro-batches (events staged into four files,
    maxFilesPerTrigger=1), so intermediate counts genuinely emit and
    are overwritten; the gate keeps the LAST emission per key
    (batch_id order) and that final picture must equal the batch
    GROUP BY — a sink that missed an update or applied them out of
    order mismatches. State is O(|event types|) — unwindowed running
    aggregates never evict, which is exactly why this shape is for
    low-cardinality keys (the docstring contract) and windowed+
    watermarked aggregation is the unbounded-key path."""
    import os

    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    staged = scratch_dir("sg_upd_")
    for i in range(4):
        ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i).coalesce(
            1
        ).write.parquet(os.path.join(staged, f"b{i}"))
    stream = spark.readStream.schema("event_id long, event_type string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(staged + "/*")
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    ckpt = scratch_dir("sg_upd_ck_")
    latest: dict[str, tuple[int, int]] = {}

    def absorb(df, bid: int) -> None:
        for r in df.collect():
            latest[r.event_type] = (bid, r.n)

    q = (
        counts.writeStream.outputMode("update")
        .foreachBatch(absorb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [(k, v[1]) for k, v in latest.items()]
    return spark.createDataFrame(rows, "event_type string, n long")


@spec(
    "mjpeg_frame_pixel_stats",
    "LLM-multimodal EXT-avidecode EXT-jpegdecode",
    oracle="""
    WITH fx AS (
      SELECT doc_id, 8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h,
             1 + doc_id % 4 AS nf
      FROM documents WHERE doc_id < 100
    ),
    fr AS (SELECT doc_id, w, h, f FROM fx, LATERAL unnest(range(0, nf)) t(f)),
    vals AS (
      SELECT doc_id, f, w, h,
             SUM((((i // w) // 8) * 31 + ((i % w) // 8) * 7 + f * 13
                  + doc_id) % 251) AS s,
             SUM((i + 1) * ((((i // w) // 8) * 31 + ((i % w) // 8) * 7
                  + f * 13 + doc_id) % 251)) AS ws
      FROM fr, LATERAL unnest(range(0, w * h)) t(i)
      GROUP BY doc_id, f, w, h
    )
    SELECT doc_id AS asset_id,
           CAST(f AS INT) AS frame_no,
           CAST(w AS INT) AS frame_w, CAST(h AS INT) AS frame_h,
           CAST(s AS BIGINT) AS px_sum,
           CAST(ws AS BIGINT) AS px_wsum
    FROM vals
    """,
)
def mjpeg_frame_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL video pixel path end-to-end — the composition round 5's
    JPEG codec unlocks: each fixture is a structurally valid AVI whose
    movi frames are REAL baseline JPEGs (1-4 frames per asset,
    block-constant grayscale under the q00=8 fixture table — the same
    bit-exactness trick as jpeg_pixel_stats, so the SQL oracle can
    recompute decoded pixels per frame), and the Arrow kernel must walk
    the RIFF container, extract every frame payload, entropy-decode its
    interior to pixels, and reduce to exact integer stats. The
    header-geometry sampler (avi_frame_samples) remains the cheap scan;
    this is the decode stage a frame-embedding pipeline would feed.
    px_wsum is position-weighted so a frame-order or block-placement
    bug fails even when plain sums survive. All-or-nothing per asset
    (one bad frame ⇒ zero rows for the asset). Blob synthesis is
    bounded driver-side scaffolding (<100 rows); decode runs
    distributed. Ref: parity N/A (media extension surface); layouts
    per public RIFF/AVI + ITU-T T.81 specs."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        r.doc_id
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
        .collect()
    ]
    blobs = []
    for i in ids:
        w, h = 8 * (1 + i % 3), 8 * (1 + i % 2)
        frames = []
        for f in range(1 + i % 4):
            bi, bj = np.meshgrid(
                np.arange(h // 8), np.arange(w // 8), indexing="ij"
            )
            bv = ((bi * 31 + bj * 7 + f * 13 + i) % 251).astype(np.uint8)
            px = np.repeat(np.repeat(bv, 8, axis=0), 8, axis=1)
            frames.append(llm_multimodal.encode_jpeg_pixels(px))
        blobs.append(
            (int(i), bytearray(llm_multimodal.encode_avi_mjpeg(frames)))
        )
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "video")
    return llm_multimodal.avi_frame_pixel_stats(media, strict=True)


@spec(
    "pcm_depth_energy_windows",
    "LLM-multimodal",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS window_no,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 20 ELSE 100 END
                * (1 + (doc_id + w) % 5) AS BIGINT) AS rms
    FROM documents, unnest([0, 1, 2, 3]) AS u(w)
    WHERE doc_id < 150 AND w < 2 + doc_id % 3
    """,
)
def pcm_depth_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM sample decode across the FULL depth matrix — 8-bit unsigned
    (offset 128), 16, 24 (3-byte sign-extended), and 32-bit — and
    across channel layouts (mono and stereo with mirrored ±amp
    channels): each fixture block is an alternating square wave whose
    exact cross-channel RMS is its amplitude, so the oracle regenerates
    the energy series arithmetically and any depth-specific decode slip
    (unsigned-offset miss, 24-bit sign-extension, channel interleave)
    hash-mismatches. Depth cycles by doc_id % 3 → (8, 24, 32): the
    16-bit path keeps its own r04 gate (audio_energy_windows). 8-bit
    rows use amplitude base 20 (≤127 signed range); wider depths use
    100. Blob synthesis is bounded driver-side scaffolding (<150 rows);
    decode runs distributed (llm/multimodal.py _wav_samples,
    audio_energy_windows). Ref: parity N/A (media extension surface);
    layout per the public RIFF/WAVE spec."""
    ensure_utc(spark)
    ids = [
        int(r.doc_id)
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
        .collect()
    ]
    rows = []
    for i in ids:
        depth = (8, 24, 32)[i % 3]
        base = 20 if depth == 8 else 100
        channels = 1 + i % 2
        amps = [base * (1 + (i + w) % 5) for w in range(2 + i % 3)]
        rate = 8000 + (i % 4) * 4000
        rows.append(
            (
                i,
                bytearray(
                    llm_multimodal.encode_wav(
                        rate, channels, amps, bit_depth=depth
                    )
                ),
            )
        )
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "audio")
    return llm_multimodal.audio_energy_windows(media).select(
        "asset_id", "window_no", "rms"
    )


@spec(
    "adpcm_energy_windows",
    "LLM-multimodal EXT-adpcmdecode",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS window_no,
           CAST(50 + (doc_id % 7) * 450 AS BIGINT) AS rms
    FROM documents, unnest([0, 1, 2, 3]) AS u(w)
    WHERE doc_id < 150 AND w < 2 + doc_id % 3
    """,
)
def adpcm_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IMA ADPCM decode end-to-end (WAV codec 0x11): each fixture
    is a conforming ADPCM stream (mono or stereo with mirrored ±c
    channels, 257-frame blocks) of a CONSTANT-amplitude signal — the
    per-block header stores the first frame verbatim and a zero delta
    quantizes to nibble 0, whose step-7 ladder adds exactly 0 while the
    step index stays clamped at 0, so the lossy codec reproduces the
    input bit-for-bit and the SQL oracle can regenerate the windowed
    RMS arithmetically (the same exactness trick as the flat-block JPEG
    gates). Any table, nibble-order, channel-interleave, or block-walk
    bug in the decoder state machine hash-mismatches; general signals
    and quantization bounds are pytest-covered
    (tests/test_multimodal.py). Blob synthesis is bounded driver-side
    scaffolding (<150 rows); decode runs distributed
    (llm/multimodal.py decode_ima_adpcm_block / decode_wav_samples).
    Ref: parity N/A (media extension surface); layout per the public
    IMA ADPCM / RIFF-WAVE specs."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        int(r.doc_id)
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
        .collect()
    ]
    rows = []
    for i in ids:
        c = 50 + (i % 7) * 450
        nb = 2 + i % 3
        channels = 1 + i % 2
        sig = np.full((257 * nb, channels), c, np.int16)
        if channels == 2:
            sig[:, 1] = -c
        rate = 8000 + (i % 4) * 4000
        rows.append(
            (
                i,
                bytearray(
                    llm_multimodal.encode_ima_adpcm(
                        sig, rate, frames_per_block=257
                    )
                ),
            )
        )
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "audio")
    return llm_multimodal.audio_energy_windows(media).select(
        "asset_id", "window_no", "rms"
    )


@spec(
    "msadpcm_energy_windows",
    "LLM-multimodal EXT-adpcmdecode",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS window_no,
           CAST(120 + (doc_id % 11) * 160 AS BIGINT) AS rms
    FROM documents, unnest(range(0, 8)) AS t(w)
    WHERE doc_id < 150 AND w < (500 * (2 + doc_id % 3)) // 256
    """,
)
def msadpcm_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MS-ADPCM decode end-to-end (WAV codec 2 — completing the
    classic WAV codec family next to PCM, IMA ADPCM and G.711): each
    fixture is a conforming stream (mono or stereo with mirrored ±c
    channels, 500-frame blocks, predictor 0) of a CONSTANT-amplitude
    signal — the block header stores the first two frames verbatim,
    predictor 0 extrapolates sample1 exactly, and the zero nibble adds
    0·delta, so decode is bit-exact and the SQL oracle regenerates the
    windowed RMS arithmetically. Any coefficient, adaptation-table,
    nibble-order (MS is HIGH-nibble-first, opposite of IMA), or
    field-interleaved-header bug hash-mismatches; general signals and
    the hand-derived block fixture are pytest-covered. Bounded driver
    scaffolding (<150 rows); decode runs distributed
    (llm/multimodal.py decode_msadpcm_block). Ref: parity N/A (media
    extension surface); layout per the public Microsoft WAVE spec."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        int(r.doc_id)
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
        .collect()
    ]
    rows = []
    for i in ids:
        c = 120 + (i % 11) * 160
        nb = 2 + i % 3
        channels = 1 + i % 2
        sig = np.full((500 * nb, channels), c, np.int16)
        if channels == 2:
            sig[:, 1] = -c
        rate = 8000 + (i % 4) * 4000
        rows.append(
            (
                i,
                bytearray(
                    llm_multimodal.encode_msadpcm(
                        sig, rate, frames_per_block=500
                    )
                ),
            )
        )
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "audio")
    return llm_multimodal.audio_energy_windows(media).select(
        "asset_id", "window_no", "rms"
    )


@spec(
    "g711_energy_windows",
    "LLM-multimodal EXT-g711decode",
    oracle="""
    WITH par AS (
      SELECT doc_id,
             1 + (doc_id * 7) % 127 AS u,       -- µ-law magnitude code
             129 + (doc_id * 5) % 127 AS a      -- A-law magnitude code
      FROM documents WHERE doc_id < 150
    ),
    v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN ((u % 16) * 8 + 132) * (1 << (u // 16)) - 132
                  ELSE CASE WHEN (a - 128) // 16 = 0
                            THEN (a % 16) * 16 + 8
                            ELSE ((a % 16) * 16 + 264)
                                 * (1 << ((a - 128) // 16 - 1))
                       END
             END AS amp
      FROM par
    )
    SELECT doc_id AS asset_id,
           CAST(w AS INT) AS window_no,
           CAST(amp AS BIGINT) AS rms
    FROM v, unnest([0, 1, 2, 3]) AS t(w)
    WHERE w < 2 + doc_id % 3
    """,
)
def g711_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 companded-audio decode (WAV codecs 7/6): each fixture
    is a conforming µ-law (even doc_ids, mono) or A-law (odd doc_ids,
    stereo) stream of alternating ±magnitude bytes — negation in BOTH
    laws is the 0x80 byte flip, so each frame pair decodes to exact
    ±v and the windowed RMS is exactly |v|. The ORACLE re-derives v
    from the byte arithmetic itself (µ-law: complement, mantissa·8 +
    0x84 shifted by exponent, minus 0x84; A-law: XOR 0x55 segmented
    expansion), so a transposed table row, sign-convention flip (the
    A-law MSB means POSITIVE — the classic transcription trap), or
    channel-interleave bug hash-mismatches. Kernel is the same
    mapInPandas RMS stage as every audio gate (decode_wav_samples
    routes codec 6/7 through the derived tables). Compressor
    (nearest-level search) and anchors are pytest-pinned. Blob
    synthesis is bounded driver scaffolding (<150 rows); decode runs
    distributed. Ref: parity N/A (media extension surface); layout per
    ITU-T G.711 + RIFF/WAVE public specs."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        int(r.doc_id)
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
        .collect()
    ]
    rows = []
    for i in ids:
        nb = 2 + i % 3
        if i % 2 == 0:
            law, channels = "ulaw", 1
            b = 0xFF ^ (1 + (i * 7) % 127)  # complement of the code
        else:
            law, channels = "alaw", 2
            b = (129 + (i * 5) % 127) ^ 0x55
        frames = np.empty(256 * nb, np.uint8)
        frames[0::2] = b
        frames[1::2] = b ^ 0x80  # sign flip in both laws
        payload = bytes(np.repeat(frames, channels))
        rate = 8000 + (i % 4) * 4000
        rows.append(
            (
                i,
                bytearray(
                    llm_multimodal.encode_g711_wav(rate, channels, payload, law)
                ),
            )
        )
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "audio")
    return llm_multimodal.audio_energy_windows(media).select(
        "asset_id", "window_no", "rms"
    )


#: Fixed inference merge table for the BPE-apply gate: rank order
#: respects symbol creation (an operand only references symbols minted
#: by earlier ranks), and every pair is distinct-symbol, which makes
#: the SQL oracle's double-replace transduction EXACT (see
#: ``_bpe_word_sql``: one `replace` pass misses an occurrence whose
#: leading delimiter was consumed by an adjacent match; a second pass
#: provably catches every survivor when left ≠ right, because the
#: first pass isolates them between freshly-minted symbols).
_BPE_FIXED_MERGES = [
    ("t", "a"), ("l", "e"), ("ta", "b"), ("tab", "le"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("v", "a"), ("u", "e"), ("va", "l"), ("val", "ue"),
    ("r", "o"), ("ro", "w"),
]


def _bpe_word_sql(var: str) -> str:
    """DuckDB expression tokenizing one word under the fixed merges:
    space-join the characters, then per rank (in order) replace the
    delimited pair twice — the exact transduction of the engine's
    one-pass leftmost merge for distinct-symbol pairs."""
    s = f"' ' || array_to_string(string_split({var}, ''), ' ') || ' '"
    for left, right in _BPE_FIXED_MERGES:
        pat, rep = f"' {left} {right} '", f"' {left}{right} '"
        s = f"replace({s}, '{pat[1:-1]}', '{rep[1:-1]}')"
        s = f"replace({s}, '{pat[1:-1]}', '{rep[1:-1]}')"
    return s


#: shared verbatim by the batch and STREAMING BPE-apply gates (the
#: kernel is stateless/map-only, so the drained stream's output set is
#: the batch output set).
_BPE_APPLY_ORACLE = f"""
    WITH {_TOK_CTE},
    enc AS (
      SELECT doc_id,
             flatten(list_transform(t,
               w -> string_split(trim({_bpe_word_sql('w')}), ' '))) AS toks
      FROM tok
    )
    SELECT doc_id,
           COALESCE(array_to_string(toks, ' '), '') AS token_text,
           CAST(len(toks) AS INT) AS n_tokens
    FROM enc
    """


@spec(
    "bpe_apply_tokens",
    "EXT-bpe EXT-encode LLM-text",
    oracle=_BPE_APPLY_ORACLE,
)
def bpe_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION over the corpus — the inference half of
    tokenizer training, under a fixed 13-rank merge table (chained
    multi-character symbols: t+a→ta→tab→table, s+c→…→scan, …). The
    engine side is the vocabulary-MEMOIZED Arrow kernel (llm/bpe.py
    bpe_apply): per batch, each DISTINCT word is merged once and
    reused, so the per-row cost is a dict hit and the fold cost scales
    with vocabulary, not corpus tokens — the property that matters at
    100 TB (the ×20 growth probe first ran the pure-Column-fold twin
    ``bpe_apply_expr`` here and measured its per-token O(len²)
    array-fold cost dominating the scan; the expr twin stays for small
    inference vocabularies and is pinned token-identical to the kernel
    in tests/test_bpe.py). The DuckDB oracle replays the same
    transduction with per-rank double `replace` over space-joined
    characters (exact for the distinct-symbol merge table — see
    _BPE_FIXED_MERGES), so any merge bug (pending-symbol state, rank
    order, pair overlap) hash-mismatches on real text.
    Sequential-by-rank equals priority-queue BPE apply because a merge
    can never re-create a lower rank's pair (llm/bpe.py module
    docstring has the argument). Ref: parity N/A (§2.12 training-data
    surface)."""
    ensure_utc(spark)
    from .llm import bpe as llm_bpe

    d = _t(spark, sf_dir, "documents")
    out = llm_bpe.bpe_apply(
        d, "doc_id", "text", [m[:2] for m in _BPE_FIXED_MERGES]
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.col("tokens")).alias("token_text"),
        F.col("n_tokens"),
    )


@spec(
    "stream_bpe_apply_tokens",
    "EXT-bpe EXT-encode EXT-stream-enrich T5",
    oracle=_BPE_APPLY_ORACLE,
)
def stream_bpe_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization as a STREAMING stage — the inference tokenizer
    applied to documents as they arrive (the online half of the
    train→save→load→apply artifact story: last month's merges tokenize
    this month's stream): the documents table replays as a file source
    and the SAME vocabulary-memoized Arrow kernel (llm/bpe.py
    bpe_apply) runs inside the micro-batch — mapInPandas is stateless
    and map-only, so it is streaming-legal with ZERO state, the memo
    resets per batch (cost still tracks per-batch vocabulary), and the
    drained append-mode output set is exactly the batch tokenization —
    the gate shares the batch gate's oracle verbatim."""
    ensure_utc(spark)
    from .llm import bpe as llm_bpe

    stream = read_table_stream(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = llm_bpe.bpe_apply(
        stream, "doc_id", "text", [m[:2] for m in _BPE_FIXED_MERGES]
    ).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.col("tokens")).alias("token_text"),
        F.col("n_tokens"),
    )
    return _run_stream(out, state_partitions=_stream_parallelism(spark))


def _bpe_train_sql(num_merges: int) -> str:
    """DuckDB mirror of the distinct-pair BPE training loop: the corpus
    collapses to a word vocabulary once, then each rank is three CTEs —
    adjacent-pair counts over the current segmentation, the
    deterministic argmax (count DESC, then lexicographic), and the
    double-replace rewrite. Generated programmatically because the
    iteration count is structural, not data-dependent."""
    parts = [
        """
    v0 AS (
      SELECT word, COUNT(*) AS wcount FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS word
        FROM documents WHERE trim(text) <> ''
      ) WHERE word <> '' GROUP BY word
    ),
    s0 AS (
      SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' '
               AS seg, wcount
      FROM v0
    )"""
    ]
    for i in range(1, num_merges + 1):
        parts.append(f"""
    p{i} AS (
      SELECT l, r, SUM(wcount) AS cnt FROM (
        SELECT wcount, parts[k] AS l, parts[k + 1] AS r FROM (
          SELECT string_split(trim(seg), ' ') AS parts, wcount FROM s{i - 1}
        ), LATERAL unnest(range(1, len(parts))) t(k)
      ) WHERE l <> r GROUP BY l, r
    ),
    m{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
    s{i} AS (
      SELECT replace(replace(seg,
               ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' '),
               ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ')
               AS seg, wcount
      FROM s{i - 1}, m{i} m
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS lhs, r AS rhs, cnt FROM m{i}"
        for i in range(1, num_merges + 1)
    )
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs,
           CAST(cnt AS BIGINT) AS pair_count
    FROM ({union})
    """
    )


@spec(
    "bpe_trained_merges",
    "EXT-bpe LLM-text",
    oracle=_bpe_train_sql(8),
)
def bpe_trained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING end-to-end — the full iterative merge
    loop, not just one iteration's pair count (that is
    ``bpe_pair_counts``): 8 ranks learned from the documents corpus,
    output (rank, pair, support count). Engine side is the adaptive
    trainer (llm/bpe.py bpe_train): ONE corpus-sized shuffle collapses
    text to a word vocabulary, then every iteration costs O(|vocab|)
    regardless of corpus size — the measured-vocabulary driver loop
    here (vocabulary is language-bounded), the distributed
    Column-fold loop beyond 500k words (both semantics-pinned to an
    independent reference in tests/test_bpe.py). The DuckDB oracle
    replays the loop as generated CTE ranks with the same
    deterministic argmax (count DESC, lexicographic tie-break). The
    gate trains the DISTINCT-PAIR variant (same-symbol candidates
    excluded) because that is the class whose double-replace SQL
    transduction is provably exact; standard same-symbol-allowed
    training is reference-pinned in pytest. Ref: parity N/A (§2.12
    training-data surface)."""
    ensure_utc(spark)
    from .llm import bpe as llm_bpe

    d = _t(spark, sf_dir, "documents")
    merges = llm_bpe.bpe_train(d, "text", 8, distinct_pairs=True)
    rows = [
        (i + 1, left, right, int(cnt))
        for i, (left, right, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "merge_rank int, lhs string, rhs string, pair_count long"
    )


# ----------------------------------------------------------------------
# Unigram-LM tokenizer (EXT-unigram; round 6 — the SentencePiece-style
# sibling of the BPE train/apply gates)
# ----------------------------------------------------------------------

#: Fixed inference score table for the unigram-apply gate (integer
#: micro-log-prob stand-ins). Multi-char pieces chosen to cover the
#: corpus vocabulary with REAL decision points: "table" ties 2-piece
#: splits (tab|le = 70 beats ta|ble = 45), "window" prefers wind|ow,
#: "order" exercises or|der vs o|rder, and chars at 0 make the
#: fewest-pieces tie-break observable.
_UNIGRAM_FIXED_SCORES: dict[str, int] = {
    "tab": 40, "le": 30, "ta": 20, "ble": 25,
    "sc": 15, "an": 35, "val": 28, "ue": 12,
    "ro": 18, "row": 22, "wind": 30, "ow": 14,
    "or": 21, "der": 19, "que": 26, "ry": 13,
    "st": 17, "re": 16, "am": 24, "er": 23,
    **{c: 0 for c in "abcdefghijklmnopqrstuvwxyz"},
}


def _duck_map_literal(scores: dict[str, int]) -> str:
    """DuckDB map literal for a piece → score table."""
    keys = ", ".join(f"'{k}'" for k in scores)
    vals = ", ".join(str(v) for v in scores.values())
    return f"map([{keys}], [{vals}])"


def _unigram_dp_sql(
    words_cte: str, smap_cte: str, dp: str, seg: str, max_len: int = 4
) -> str:
    """The Viterbi DP as a recursive CTE pair — the literal SQL twin of
    llm/unigram.py viterbi_segment. Each word row carries its
    per-position best states as a growing list of structs ordered
    (ns = -score, np = pieces, seg = space-joined pieces): struct
    comparison IS the tie-break chain, so ``list_sort(...)[1]`` is the
    argmin. Multi-char substrings outside the score map are not
    candidates; single chars fall back to the UNK score. The seg-string
    tie-break is stable under DP state merging because two competing
    segmentations of the same word prefix strip to the same characters,
    so neither is ever a strict string prefix of the other (module
    docstring, llm/unigram.py)."""
    return f"""
    {dp} AS (
      SELECT word, wcount, 0 AS j,
             [{{'ns': 0::BIGINT, 'np': 0, 'seg': ''}}] AS bests, m
      FROM {words_cte}, {smap_cte}
      UNION ALL
      SELECT word, wcount, j + 1,
             list_append(bests,
               list_sort(
                 list_filter(
                   list_transform(
                     generate_series(greatest(0, j + 1 - {max_len}), j),
                     i -> CASE
                       WHEN map_extract(m, substr(word, i + 1, j + 1 - i)) = []
                            AND j + 1 - i > 1
                       THEN NULL
                       ELSE {{
                         'ns': bests[i + 1].ns
                               - COALESCE(map_extract(m, substr(word, i + 1, j + 1 - i))[1],
                                          -40000000),
                         'np': bests[i + 1].np + 1,
                         'seg': CASE WHEN bests[i + 1].seg = ''
                                     THEN substr(word, i + 1, j + 1 - i)
                                     ELSE bests[i + 1].seg || ' '
                                          || substr(word, i + 1, j + 1 - i) END
                       }}
                     END),
                   x -> x IS NOT NULL)
               )[1]
             ) AS bests,
             m
      FROM {dp} WHERE j < len(word)
    ),
    {seg} AS (
      SELECT word, wcount, bests[len(word) + 1].seg AS seg,
             bests[len(word) + 1].ns AS ns, bests[len(word) + 1].np AS np
      FROM {dp} WHERE j = len(word)
    )"""


@spec(
    "unigram_apply_tokens",
    "EXT-unigram EXT-encode LLM-text",
    oracle=f"""
    WITH RECURSIVE {_TOK_CTE},
    words AS (
      SELECT DISTINCT unnest(t) AS word, 1 AS wcount FROM tok
    ),
    smap AS (SELECT {_duck_map_literal(_UNIGRAM_FIXED_SCORES)} AS m),
    {_unigram_dp_sql('words', 'smap', 'dp', 'seg')},
    segmap AS (SELECT map(list(word), list(seg)) AS wm FROM seg),
    enc AS (
      SELECT doc_id,
             flatten(list_transform(t,
               w -> string_split(map_extract(wm, w)[1], ' '))) AS toks
      FROM tok, segmap
    )
    SELECT doc_id,
           COALESCE(array_to_string(toks, ' '), '') AS token_text,
           CAST(len(toks) AS INT) AS n_tokens
    FROM enc
    """,
)
def unigram_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer APPLICATION — Viterbi segmentation of the
    corpus under a fixed integer score table (llm/unigram.py
    unigram_apply: vocabulary-memoized Arrow kernel, map-only plan, the
    bpe_apply economics). Semantics: maximize total piece score, then
    fewest pieces, then the lexicographically smallest segmentation —
    all integer/string comparisons, so the DuckDB oracle replays the DP
    exactly as a recursive CTE (``_unigram_dp_sql``) over the distinct
    corpus words and hash-matches every token. Any lattice bug
    (candidate window off-by-one, tie-break order, unknown-char
    handling) mismatches on real text. Ref: parity N/A (§2.12
    training-data surface)."""
    ensure_utc(spark)
    from .llm import unigram as llm_unigram

    d = _t(spark, sf_dir, "documents")
    out = llm_unigram.unigram_apply(
        d, "doc_id", "text", _UNIGRAM_FIXED_SCORES
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.col("tokens")).alias("token_text"),
        F.col("n_tokens"),
    )


def _unigram_train_sql(iters: int, max_len: int = 4, min_count: int = 2) -> str:
    """DuckDB mirror of the hard-EM unigram trainer: corpus → word
    vocabulary → substring seed counts (inventory fixed, single chars
    exempt from min_count), then per iteration (a) additively-smoothed
    quantized log scores — FLOOR(1e6·ln((c+1)/(total+|inv|)) + 0.5),
    literally the quantlog_scores formula, (b) the recursive-CTE
    Viterbi DP, (c) weighted piece re-counts over the best
    segmentations. Generated programmatically because the iteration
    count is structural (same device as _bpe_train_sql)."""
    parts = [
        f"""
    vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS word
        FROM documents WHERE trim(text) <> ''
      ) WHERE word <> '' GROUP BY word
    ),
    sub AS (
      SELECT substr(word, i, ln) AS piece, wcount
      FROM (SELECT word, wcount, unnest(generate_series(1, len(word))) AS i
            FROM vocab),
           (SELECT unnest(generate_series(1, {max_len})) AS ln) l
      WHERE i + ln - 1 <= len(word)
    ),
    c0 AS (
      SELECT piece, CAST(SUM(wcount) AS BIGINT) AS cnt FROM sub GROUP BY piece
      HAVING SUM(wcount) >= {min_count} OR len(piece) = 1
    )"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        parts.append(f"""
    tot{t} AS (SELECT SUM(cnt) + COUNT(*) AS tot FROM {prev}),
    st{t} AS (
      SELECT piece,
             CAST(FLOOR(1e6 * ln((cnt + 1) / tot) + 0.5) AS BIGINT) AS s
      FROM {prev}, tot{t}
    ),
    sm{t} AS (SELECT map(list(piece), list(s)) AS m FROM st{t}),
    {_unigram_dp_sql('vocab', f'sm{t}', f'dp{t}', f'sg{t}', max_len)},
    uc{t} AS (
      SELECT piece, CAST(SUM(wcount) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(seg, ' ')) AS piece, wcount FROM sg{t})
      GROUP BY piece
    ),
    c{t} AS (
      SELECT p.piece, COALESCE(u.cnt, 0) AS cnt
      FROM {prev} p LEFT JOIN uc{t} u ON p.piece = u.piece
    )""")
    return (
        "WITH RECURSIVE "
        + ",".join(parts)
        + f"""
    SELECT piece, CAST(cnt AS BIGINT) AS piece_count
    FROM c{iters} WHERE cnt > 0
    """
    )


def _unigram_quality_sql(iters: int = 2, max_len: int = 4) -> str:
    """Extend the trainer replay with the scoring pass: final-vocabulary
    quantized log scores → one more Viterbi DP over the corpus words →
    per-document totals (the DP already carries each word's total
    micro-log-prob as ``-ns`` and its piece count as ``np``)."""
    train = _unigram_train_sql(iters, max_len)
    # strip the trainer's final SELECT; keep its WITH RECURSIVE chain
    body = train[: train.index("SELECT piece, CAST(cnt AS BIGINT)")]
    t = iters + 1
    return (
        body
        + f""",
    cf AS (SELECT piece, cnt FROM c{iters} WHERE cnt > 0),
    tot{t} AS (SELECT SUM(cnt) + COUNT(*) AS tot FROM cf),
    st{t} AS (
      SELECT piece,
             CAST(FLOOR(1e6 * ln((cnt + 1) / tot) + 0.5) AS BIGINT) AS s
      FROM cf, tot{t}
    ),
    sm{t} AS (SELECT map(list(piece), list(s)) AS m FROM st{t}),
    {_unigram_dp_sql('vocab', f'sm{t}', f'dp{t}', f'sg{t}', max_len)},
    {_TOK_CTE},
    dw AS (SELECT doc_id, unnest(t) AS w FROM tok),
    agg AS (
      SELECT doc_id, SUM(-g.ns) AS ts, SUM(g.np) AS np
      FROM dw JOIN sg{t} g ON dw.w = g.word GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(COALESCE(a.ts, 0) AS BIGINT) AS total_micrologp,
           CAST(COALESCE(a.np, 0) AS INT) AS n_pieces
    FROM tok tk LEFT JOIN agg a ON tk.doc_id = a.doc_id
    """
    )


@spec(
    "doc_unigram_quality",
    "EXT-unigram EXT-quality LLM-text",
    oracle=_unigram_quality_sql(2),
)
def doc_unigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality scoring with the ON-ENGINE-trained unigram
    LM — the CCNet-style "score documents by a language model trained on
    the corpus" curation stage, end-to-end in one pipeline: hard-EM
    unigram training (llm/unigram.py unigram_train_viterbi) → final
    vocabulary re-scored to integer micro-log-probs → every document
    Viterbi-scored (word-memoized Arrow kernel, map-only). Output
    (doc_id, total_micrologp, n_pieces); per-token NLL =
    -total/n_pieces is the filter threshold downstream. All-integer, so
    the DuckDB oracle replays the ENTIRE train→score path: the trainer
    CTEs, one more scoring DP over the word vocabulary, and per-doc
    aggregation. Ref: parity N/A (§2.12 training-data surface)."""
    ensure_utc(spark)
    from .llm import unigram as llm_unigram

    d = _t(spark, sf_dir, "documents")
    cnts = {
        r["piece"]: int(r["piece_count"])
        for r in llm_unigram.unigram_train_viterbi(d, "text", iters=2).collect()
    }
    scores = llm_unigram.quantlog_scores(cnts)
    return llm_unigram.unigram_doc_scores(d, "doc_id", "text", scores).select(
        F.col("id").alias("doc_id"), "total_micrologp", "n_pieces"
    )


def _bigram_quality_sql() -> str:
    """DuckDB replay of the stupid-backoff bigram scorer
    (llm/bigram.py): unigram + bigram counts over the even-doc_id
    training slice, smoothed unigram micro-logs, then every document's
    transitions scored — observed ones as FLOOR(1e6·ln(c2/c1)+0.5),
    unseen ones as the -916291 backoff constant plus the (possibly
    OOV-smoothed) unigram. Every score is ln of a quotient of exact
    integers, so both engines quantize identically."""
    return f"""
    WITH {_TOK_CTE},
    tr AS (SELECT doc_id, t FROM tok WHERE doc_id % 2 = 0),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w
    ),
    tot AS (SELECT SUM(c) + COUNT(*) AS T FROM uni),
    um AS (
      SELECT w, CAST(FLOOR(1e6 * ln((c + 1) / T) + 0.5) AS BIGINT) AS u
      FROM uni, tot
    ),
    big AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
        SELECT t[k] AS a, t[k + 1] AS b
        FROM tr, LATERAL unnest(range(1, len(t))) q(k)
      ) GROUP BY a, b
    ),
    ctx AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1 FROM big GROUP BY a),
    oov AS (
      SELECT CAST(FLOOR(1e6 * ln(1.0 / T) + 0.5) AS BIGINT) AS v FROM tot
    ),
    heads AS (SELECT doc_id, t[1] AS w FROM tok WHERE len(t) >= 1),
    hs AS (
      SELECT h.doc_id, COALESCE(um.u, oov.v) AS s, 0 AS bo
      FROM heads h LEFT JOIN um ON h.w = um.w, oov
    ),
    trans AS (
      SELECT doc_id, t[k] AS a, t[k + 1] AS b
      FROM tok, LATERAL unnest(range(1, len(t))) q(k)
    ),
    ts AS (
      SELECT x.doc_id,
             CASE WHEN big.c2 IS NOT NULL
                  THEN CAST(FLOOR(1e6 * ln(CAST(big.c2 AS DOUBLE) / ctx.c1)
                                  + 0.5) AS BIGINT)
                  ELSE {llm_bigram.BACKOFF_MU} + COALESCE(um.u, oov.v)
             END AS s,
             CASE WHEN big.c2 IS NULL THEN 1 ELSE 0 END AS bo
      FROM trans x
      LEFT JOIN big ON x.a = big.a AND x.b = big.b
      LEFT JOIN ctx ON x.a = ctx.a
      LEFT JOIN um ON x.b = um.w, oov
    ),
    agg AS (
      SELECT doc_id, SUM(s) AS ts, COUNT(*) AS n, SUM(bo) AS nb
      FROM (SELECT * FROM hs UNION ALL SELECT * FROM ts) GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(COALESCE(a.ts, 0) AS BIGINT) AS total_micrologp,
           CAST(COALESCE(a.n, 0) AS INT) AS n_tokens,
           CAST(COALESCE(a.nb, 0) AS INT) AS n_backoff
    FROM tok tk LEFT JOIN agg a ON tk.doc_id = a.doc_id
    """


@spec(
    "doc_bigram_quality",
    "EXT-bigram EXT-quality LLM-text",
    oracle=_bigram_quality_sql(),
)
def doc_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-sensitive LM quality scoring with a stupid-backoff BIGRAM
    model (llm/bigram.py) — the r06-verdict extension of
    ``doc_unigram_quality`` to the actual CCNet filter shape: the LM
    trains on a reference slice (even doc_ids), scores EVERY document,
    and per-token NLL = -total/n_tokens is the downstream threshold.
    Transitions observed in training score as the exact count ratio
    c(a b)/c(a ·); unseen ones back off to 0.4·U(b) — and because the
    scoring corpus is a superset of the training slice, backoff
    GENUINELY fires (a same-corpus model never backs off; ``n_backoff``
    rides along as the witness). All scores are
    FLOOR(1e6·ln(int/int)+0.5) micro-log integers, so the DuckDB
    oracle replays the entire train→score path. Engine is pure Column
    expressions: two training-slice aggregates, vocabulary-sized
    (broadcast) count tables joined to transition rows, one per-doc
    sum — no Python anywhere. Kneser-Ney is deliberately out of scope:
    its discounting is float-valued and not exactly replayable
    (SURVEY §14 / r06 verdict item 5). Ref: parity N/A (§2.12
    training-data surface)."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    return llm_bigram.bigram_doc_scores(
        d, "doc_id", "text", train_pred=F.col("id") % 2 == 0
    ).select(
        F.col("id").alias("doc_id"), "total_micrologp", "n_tokens", "n_backoff"
    )


def _trigram_quality_sql() -> str:
    """DuckDB replay of the order-3 stupid-backoff scorer
    (llm/bigram.py trigram_doc_scores): unigram + bigram + trigram
    counts over the doc_id%3=0 training slice, then every document's
    positions scored — trigram hits as FLOOR(1e6·ln(c3/c23)+0.5),
    misses chaining through the bigram rule (one -916291 constant per
    hop) down to the smoothed unigram. Identical integer quantization
    on both sides."""
    bmu = llm_bigram.BACKOFF_MU
    return f"""
    WITH {_TOK_CTE},
    tr AS (SELECT doc_id, t FROM tok WHERE doc_id % 3 = 0),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w
    ),
    tot AS (SELECT SUM(c) + COUNT(*) AS T FROM uni),
    um AS (
      SELECT w, CAST(FLOOR(1e6 * ln((c + 1) / T) + 0.5) AS BIGINT) AS u
      FROM uni, tot
    ),
    big AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
        SELECT t[k] AS a, t[k + 1] AS b
        FROM tr, LATERAL unnest(range(1, len(t))) q(k)
      ) GROUP BY a, b
    ),
    ctx AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1 FROM big GROUP BY a),
    tri AS (
      SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
        SELECT t[k] AS a, t[k + 1] AS b, t[k + 2] AS c
        FROM tr, LATERAL unnest(range(1, len(t) - 1)) q(k)
      ) GROUP BY a, b, c
    ),
    ctx3 AS (
      SELECT a, b, CAST(SUM(c3) AS BIGINT) AS c23 FROM tri GROUP BY a, b
    ),
    oov AS (
      SELECT CAST(FLOOR(1e6 * ln(1.0 / T) + 0.5) AS BIGINT) AS v FROM tot
    ),
    heads AS (SELECT doc_id, t[1] AS w FROM tok WHERE len(t) >= 1),
    hs AS (
      SELECT h.doc_id, COALESCE(um.u, oov.v) AS s, 0 AS bo2, 0 AS bo1
      FROM heads h LEFT JOIN um ON h.w = um.w, oov
    ),
    sec AS (SELECT doc_id, t[1] AS a, t[2] AS b FROM tok WHERE len(t) >= 2),
    ss AS (
      SELECT x.doc_id,
             CASE WHEN big.c2 IS NOT NULL
                  THEN CAST(FLOOR(1e6 * ln(CAST(big.c2 AS DOUBLE) / ctx.c1)
                                  + 0.5) AS BIGINT)
                  ELSE {bmu} + COALESCE(um.u, oov.v)
             END AS s,
             0 AS bo2,
             CASE WHEN big.c2 IS NULL THEN 1 ELSE 0 END AS bo1
      FROM sec x
      LEFT JOIN big ON x.a = big.a AND x.b = big.b
      LEFT JOIN ctx ON x.a = ctx.a
      LEFT JOIN um ON x.b = um.w, oov
    ),
    trans AS (
      SELECT doc_id, t[k] AS a, t[k + 1] AS b, t[k + 2] AS c
      FROM tok, LATERAL unnest(range(1, len(t) - 1)) q(k)
    ),
    ts AS (
      SELECT x.doc_id,
             CASE WHEN tri.c3 IS NOT NULL
                  THEN CAST(FLOOR(1e6 * ln(CAST(tri.c3 AS DOUBLE) / ctx3.c23)
                                  + 0.5) AS BIGINT)
                  ELSE {bmu} + CASE WHEN b2.c2 IS NOT NULL
                       THEN CAST(FLOOR(1e6 * ln(CAST(b2.c2 AS DOUBLE) / cb.c1)
                                       + 0.5) AS BIGINT)
                       ELSE {bmu} + COALESCE(um.u, oov.v) END
             END AS s,
             CASE WHEN tri.c3 IS NULL THEN 1 ELSE 0 END AS bo2,
             CASE WHEN tri.c3 IS NULL AND b2.c2 IS NULL THEN 1 ELSE 0 END AS bo1
      FROM trans x
      LEFT JOIN tri ON x.a = tri.a AND x.b = tri.b AND x.c = tri.c
      LEFT JOIN ctx3 ON x.a = ctx3.a AND x.b = ctx3.b
      LEFT JOIN big b2 ON x.b = b2.a AND x.c = b2.b
      LEFT JOIN ctx cb ON x.b = cb.a
      LEFT JOIN um ON x.c = um.w, oov
    ),
    agg AS (
      SELECT doc_id, SUM(s) AS ts2, COUNT(*) AS n,
             SUM(bo2) AS nb2, SUM(bo1) AS nb1
      FROM (SELECT * FROM hs UNION ALL SELECT * FROM ss
            UNION ALL SELECT * FROM ts) GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(COALESCE(a.ts2, 0) AS BIGINT) AS total_micrologp,
           CAST(COALESCE(a.n, 0) AS INT) AS n_tokens,
           CAST(COALESCE(a.nb2, 0) AS INT) AS n_backoff2,
           CAST(COALESCE(a.nb1, 0) AS INT) AS n_backoff1
    FROM tok tk LEFT JOIN agg a ON tk.doc_id = a.doc_id
    """


@spec(
    "doc_trigram_quality",
    "EXT-trigram EXT-quality LLM-text",
    oracle=_trigram_quality_sql(),
)
def doc_trigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM quality scoring with the PRODUCTION-order stupid-backoff
    chain — trigram → bigram → unigram (Brants 2007 trains order-5;
    order-3 exhibits the full chain mechanics) — extending
    ``doc_bigram_quality`` one order per the r07 verdict. The LM trains
    on the doc_id%3=0 slice (a thinner slice than the bigram gate's
    half, so BOTH hops genuinely fire on held-out text) and scores
    every document; ``n_backoff2`` witnesses trigram→bigram hops,
    ``n_backoff1`` the transitions that fell all the way to the
    unigram. Every score is FLOOR(1e6·ln(int/int)+0.5) micro-log
    integers with one -916291 constant per hop, so the DuckDB oracle
    replays the whole chain. Engine (llm/bigram.py trigram_doc_scores)
    stays pure Column expressions: three training-slice aggregates,
    type-counted model tables with AQE-chosen join strategies, one
    per-doc sum. Ref: parity N/A (§2.12 training-data surface)."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    return llm_bigram.trigram_doc_scores(
        d, "doc_id", "text", train_pred=F.col("id") % 3 == 0
    ).select(
        F.col("id").alias("doc_id"),
        "total_micrologp",
        "n_tokens",
        "n_backoff2",
        "n_backoff1",
    )


@spec(
    "unigram_trained_vocab",
    "EXT-unigram LLM-text",
    oracle=_unigram_train_sql(2),
)
def unigram_trained_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING end-to-end — the hard-EM loop over
    the corpus word vocabulary (llm/unigram.py unigram_train_viterbi):
    ONE corpus-sized shuffle collapses text to (word, wcount), substring
    seeding fixes the candidate inventory, then each of 2 EM rounds
    re-scores (additively-smoothed INTEGER micro-log-probs —
    quantlog_scores), Viterbi re-segments every vocab word, and
    re-counts pieces along the best segmentations. Output: the
    surviving vocabulary (piece, piece_count). Measured-size adaptive
    like bpe_train: in-process below 500k words (vocabulary is
    language-bounded), the distributed Arrow-kernel E-step above —
    both pinned equal in tests/test_unigram.py. The DuckDB oracle
    replays seed, scores, the recursive-CTE Viterbi DP and both count
    rounds value-for-value; the soft-EM (forward-backward) refinement
    is pytest-pinned against lattice enumeration (the float class SQL
    cannot replay exactly). Ref: parity N/A (§2.12 training-data
    surface)."""
    ensure_utc(spark)
    from .llm import unigram as llm_unigram

    d = _t(spark, sf_dir, "documents")
    return llm_unigram.unigram_train_viterbi(d, "text", iters=2)


# ----------------------------------------------------------------------
# WordPiece tokenizer (EXT-wordpiece; round 7 — the BERT-style greedy
# longest-match sibling completing the BPE / unigram / WordPiece trio)
# ----------------------------------------------------------------------

#: Fixed inference vocabulary for the wordpiece-apply gate: bare
#: initials + ##-continuations for every lowercase letter (totality
#: over clean words), plus multi-char pieces with REAL decision points
#: on the corpus vocabulary: "table" must take tab+##le (longest-first
#: beats the also-present ta+##ble), "window" wind+##ow, "order"
#: or+##der, "stream" st+##re+##am. Words with any character outside
#: the piece inventory (digits, punctuation, uppercase) become [UNK]
#: whole — the BERT convention, replayed by the oracle.
_WORDPIECE_FIXED_VOCAB: tuple[str, ...] = (
    *"abcdefghijklmnopqrstuvwxyz",
    *(f"##{c}" for c in "abcdefghijklmnopqrstuvwxyz"),
    "tab", "ta", "sc", "wind", "or", "que", "st", "val", "ro", "row",
    "##le", "##ble", "##an", "##ow", "##der", "##ry", "##re", "##am",
    "##ue",
)


def _duck_vocab_map(vocab: tuple[str, ...]) -> str:
    """DuckDB map literal for piece-set membership (value unused)."""
    keys = ", ".join(f"'{p}'" for p in vocab)
    vals = ", ".join("1" for _ in vocab)
    return f"map([{keys}], [{vals}])"


def _wordpiece_apply_sql(vocab: tuple[str, ...], max_chars: int) -> str:
    """DuckDB replay of greedy longest-match WordPiece application as a
    recursive CTE: each word row advances one piece per recursion step,
    probing lengths ``min(max_chars, remaining)..1`` descending and
    taking the FIRST vocabulary hit (``##``-prefixed beyond position
    0); an unmatchable position marks the word failed → ``[UNK]``
    whole. Greedy matching is deterministic, so unlike the unigram
    Viterbi twin there is no tie-break lattice to carry — just the
    cursor, the accumulated segmentation, and the failure flag."""
    return f"""
    WITH RECURSIVE {_TOK_CTE},
    words AS (SELECT DISTINCT unnest(t) AS word FROM tok),
    vmap AS (SELECT {_duck_vocab_map(vocab)} AS m),
    wp AS (
      SELECT word, 0 AS i, '' AS seg, FALSE AS failed, m FROM words, vmap
      UNION ALL
      SELECT word,
             CASE WHEN best IS NULL THEN len(word) ELSE i + best END,
             CASE WHEN best IS NULL THEN seg
                  ELSE seg || ' ' ||
                       CASE WHEN i = 0 THEN substr(word, 1, best)
                            ELSE '##' || substr(word, i + 1, best) END END,
             failed OR best IS NULL,
             m
      FROM (
        SELECT word, i, seg, failed, m,
               list_filter(
                 list_transform(
                   generate_series(least({max_chars}, len(word) - i), 1, -1),
                   ln -> CASE WHEN map_extract(m,
                                CASE WHEN i = 0 THEN substr(word, 1, ln)
                                     ELSE '##' || substr(word, i + 1, ln) END
                              ) <> [] THEN ln END),
                 x -> x IS NOT NULL)[1] AS best
        FROM wp WHERE i < len(word)
      )
    ),
    wseg AS (
      SELECT word, CASE WHEN failed THEN '[UNK]' ELSE trim(seg) END AS seg
      FROM wp WHERE i = len(word)
    ),
    segmap AS (SELECT map(list(word), list(seg)) AS wm FROM wseg),
    enc AS (
      SELECT doc_id,
             flatten(list_transform(t,
               w -> string_split(map_extract(wm, w)[1], ' '))) AS toks
      FROM tok, segmap
    )
    SELECT doc_id,
           COALESCE(array_to_string(toks, ' '), '') AS token_text,
           CAST(len(toks) AS INT) AS n_tokens
    FROM enc
    """


@spec(
    "wordpiece_apply_tokens",
    "EXT-wordpiece EXT-encode LLM-text",
    oracle=_wordpiece_apply_sql(
        # same bound the engine derives (vocab pieces ≤ 4 raw chars, so
        # this is MAX_PIECE_CHARS) — the derived form keeps oracle and
        # kernel in lockstep if the vocabulary ever grows longer pieces
        _WORDPIECE_FIXED_VOCAB,
        llm_wordpiece.vocab_probe_bound(_WORDPIECE_FIXED_VOCAB),
    ),
)
def wordpiece_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer APPLICATION — BERT-style greedy
    longest-match segmentation of the corpus under a fixed vocabulary
    (llm/wordpiece.py wordpiece_apply: vocabulary-memoized Arrow
    kernel, map-only plan, the bpe_apply economics; a word with any
    unmatchable position becomes [UNK] whole). Deterministic by
    construction, so the DuckDB oracle replays the greedy scan exactly
    as a recursive CTE over the distinct corpus words and hash-matches
    every token — any bug in longest-first probing, the ##-prefix
    boundary, or UNK handling mismatches on real text. Ref: parity N/A
    (§2.12 training-data surface)."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    out = llm_wordpiece.wordpiece_apply(
        d, "doc_id", "text", set(_WORDPIECE_FIXED_VOCAB)
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.col("tokens")).alias("token_text"),
        F.col("n_tokens"),
    )


def _wordpiece_train_sql(num_merges: int) -> str:
    """DuckDB mirror of the distinct-pair WordPiece training loop: the
    word-vocab collapse and seg-string double-replace rewrite are the
    ``_bpe_train_sql`` devices (initial segmentations carry ``##`` on
    every non-initial char; a merge strips the prefix from its right
    operand), but each rank's argmax maximizes the WordPiece
    likelihood-ratio score pair_count/(left_count·right_count) — chosen
    EXACTLY via HUGEINT cross-multiplication in a NOT EXISTS
    anti-join (no float division anywhere), lexicographic (l, r) on
    true rational ties, matching the engine's integer cross-multiply
    (llm/wordpiece.py _score_argmax)."""
    parts = [
        """
    v0 AS (
      SELECT word, COUNT(*) AS wcount FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS word
        FROM documents WHERE trim(text) <> ''
      ) WHERE word <> '' GROUP BY word
    ),
    s0 AS MATERIALIZED (
      SELECT ' ' || substr(word, 1, 1) ||
             CASE WHEN len(word) > 1
                  THEN ' ##' || array_to_string(
                         string_split(substr(word, 2), ''), ' ##')
                  ELSE '' END || ' ' AS seg,
             wcount
      FROM v0
    )"""
    ]
    for i in range(1, num_merges + 1):
        parts.append(f"""
    parts{i} AS MATERIALIZED (
      SELECT string_split(trim(seg), ' ') AS parts, wcount FROM s{i - 1}
    ),
    sym{i} AS MATERIALIZED (
      SELECT s, SUM(wcount) AS sc FROM (
        SELECT unnest(parts) AS s, wcount FROM parts{i}
      ) GROUP BY s
    ),
    p{i} AS MATERIALIZED (
      SELECT l, r, SUM(wcount) AS pc FROM (
        SELECT wcount, parts[k] AS l, parts[k + 1] AS r
        FROM parts{i}, LATERAL unnest(range(1, len(parts))) t(k)
      ) WHERE l <> r GROUP BY l, r
    ),
    cand{i} AS MATERIALIZED (
      SELECT p.l, p.r, p.pc, sl.sc AS lc, sr.sc AS rc
      FROM p{i} p
      JOIN sym{i} sl ON p.l = sl.s
      JOIN sym{i} sr ON p.r = sr.s
    ),
    m{i} AS MATERIALIZED (
      SELECT l, r, pc, lc, rc FROM cand{i} c
      WHERE NOT EXISTS (
        SELECT 1 FROM cand{i} d
        WHERE (CAST(d.pc AS HUGEINT) * c.lc * c.rc
               > CAST(c.pc AS HUGEINT) * d.lc * d.rc)
           OR (CAST(d.pc AS HUGEINT) * c.lc * c.rc
               = CAST(c.pc AS HUGEINT) * d.lc * d.rc
               AND (d.l < c.l OR (d.l = c.l AND d.r < c.r)))
      )
    ),
    s{i} AS MATERIALIZED (
      SELECT replace(replace(seg,
               ' ' || m.l || ' ' || m.r || ' ',
               ' ' || m.l || substr(m.r, 3) || ' '),
               ' ' || m.l || ' ' || m.r || ' ',
               ' ' || m.l || substr(m.r, 3) || ' ') AS seg, wcount
      FROM s{i - 1}, m{i} m
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS lhs, r AS rhs, pc, lc, rc FROM m{i}"
        for i in range(1, num_merges + 1)
    )
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs,
           CAST(pc AS BIGINT) AS pair_count,
           CAST(lc AS BIGINT) AS left_count,
           CAST(rc AS BIGINT) AS right_count
    FROM ({union})
    """
    )


@spec(
    "wordpiece_trained_merges",
    "EXT-wordpiece LLM-text",
    oracle=_wordpiece_train_sql(8),
)
def wordpiece_trained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer TRAINING end-to-end — 8 ranks learned from
    the documents corpus with the likelihood-ratio selection rule
    pair_count/(left_count·right_count) (what separates WordPiece from
    BPE's raw-count argmax), output (rank, pair, and ALL THREE counts
    so the oracle hash-checks the selection evidence, not just the
    winner). Engine side is the adaptive trainer (llm/wordpiece.py
    wordpiece_train): ONE corpus-sized shuffle collapses text to a word
    vocabulary, every iteration costs O(|vocab|); scores compare as
    exact integer cross-products in both the in-process loop and the
    distributed fallback (float pre-rank + exact re-compare), and the
    DuckDB oracle picks each rank with the same HUGEINT
    cross-multiplied NOT EXISTS argmax (each rank's CTEs MATERIALIZED:
    DuckDB inlines CTEs by default, and the cand CTE appearing twice in
    the anti-join would otherwise expand ~7x per rank — exponential
    document scans by rank 8). Trains the DISTINCT-PAIR
    variant whose double-replace SQL transduction is provably exact
    (the bpe_trained_merges trade); standard training is pinned in
    tests/test_wordpiece.py against an independent Fraction-scored
    reference. Ref: parity N/A (§2.12 training-data surface)."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    merges = llm_wordpiece.wordpiece_train(d, "text", 8, distinct_pairs=True)
    rows = [
        (i + 1, left, right, int(pc), int(lc), int(rc))
        for i, (left, right, pc, lc, rc) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "merge_rank int, lhs string, rhs string, pair_count long, "
        "left_count long, right_count long",
    )


# ----------------------------------------------------------------------
# Tokenizer-artifact persistence (round 8 — the missing stage of the
# on-engine tokenizer story: train → SAVE a versioned model table →
# reload → apply-from-loaded ≡ apply-from-trained on a fresh slice)
# ----------------------------------------------------------------------

#: checksum modulus: per-row md5-h1 reduced below 1e9 before the SUM so
#: the order-independent total stays far from long overflow at any
#: realistic vocabulary size (1e9 rows × 1e9 < 2^63).
_ART_CHECK_MOD = 1_000_000_007


def _artifact_report(
    loaded: DataFrame,
    canon,
    version: int,
    held: DataFrame,
    applied_trained: DataFrame,
    applied_loaded: DataFrame,
) -> DataFrame:
    """Shared tail of the three tokenizer-persistence gates: artifact
    row count + order-independent md5 checksum computed from the
    RELOADED parquet table (byte-stability is the thing under test —
    the oracle recomputes the checksum from its train replay), the
    held-out apply count, and the apply-from-loaded ≡ apply-from-trained
    mismatch count (full outer join, null-safe — a dropped or extra doc
    counts as a mismatch)."""
    from .functions.portable_hash import md5_halves

    h1, _ = md5_halves(canon)
    stats = loaded.agg(
        F.count(F.lit(1)).cast("long").alias("n_artifact_rows"),
        F.sum(h1 % F.lit(_ART_CHECK_MOD))
        .cast("long")
        .alias("artifact_checksum"),
    )
    napp = held.agg(F.count(F.lit(1)).cast("long").alias("n_docs_applied"))
    a = applied_trained.select("id", F.col("token_text").alias("__ta"))
    b = applied_loaded.select("id", F.col("token_text").alias("__tb"))
    mism = (
        a.join(b, "id", "full_outer")
        .agg(
            F.sum(
                F.when(F.col("__ta").eqNullSafe(F.col("__tb")), 0).otherwise(1)
            )
            .cast("long")
            .alias("n_apply_mismatch")
        )
    )
    return (
        stats.crossJoin(napp)
        .crossJoin(mism)
        .select(
            "n_artifact_rows",
            "artifact_checksum",
            F.lit(version).cast("int").alias("artifact_version"),
            "n_docs_applied",
            "n_apply_mismatch",
            (F.col("n_apply_mismatch") == 0).alias("roundtrip_ok"),
        )
    )


def _tokens_text(applied: DataFrame) -> DataFrame:
    return applied.select(
        "id", F.concat_ws(" ", F.col("tokens")).alias("token_text")
    )


def _artifact_checksum_sql(canon: str) -> str:
    """The artifact-checksum SQL formula lives ONCE, in
    operators/sketches.py (``_ck_sql``) — the sketch-artifact oracles
    build theirs there; this delegation keeps every artifact gate's
    checksum definition literally the same expression."""
    return op_sketches._ck_sql(canon, _ART_CHECK_MOD)


def _artifact_report_sql(art_body: str, canon: str, src: str = "art") -> str:
    """Oracle tail shared by the three persistence gates: the artifact
    content comes from the nested train replay (``art_body``), the
    checksum from the same canonical strings the engine hashes over the
    reloaded parquet, and the equality witnesses are pinned to their
    only correct values (version 1: one commit; 0 mismatches: parquet
    round-trips strings and longs exactly)."""
    return f"""
    WITH art AS ({art_body})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_artifact_rows,
           {_artifact_checksum_sql(canon)} AS artifact_checksum,
           CAST(1 AS INT) AS artifact_version,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE doc_id % 2 = 1) AS n_docs_applied,
           CAST(0 AS BIGINT) AS n_apply_mismatch,
           TRUE AS roundtrip_ok
    FROM {src}
    """


@spec(
    "bpe_artifact_roundtrip",
    "EXT-bpe EXT-artifact S14 S16",
    oracle=_artifact_report_sql(
        _bpe_train_sql(8),
        "CAST(merge_rank AS VARCHAR) || ':' || lhs || ':' || rhs"
        " || ':' || CAST(pair_count AS VARCHAR)",
    ),
)
def bpe_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-ARTIFACT persistence for BPE — the stage between
    ``bpe_trained_merges`` and ``bpe_apply_tokens`` that a real
    pipeline runs monthly: train 8 distinct-pair ranks on the corpus,
    COMMIT the merge table through the archive's versioned-directory
    protocol (archive.py save_table — crash-safe pointer flip, one-step
    rollback), reload it from parquet, and tokenize the held-out
    doc_id%2=1 slice with BOTH the in-session model and the reloaded
    one: every document must tokenize identically
    (``n_apply_mismatch`` = 0, full-outer null-safe compare). The
    artifact checksum is an order-independent md5 sum computed from the
    RELOADED table and hash-checked against the oracle's train replay —
    byte-stability of the persisted model, not just row counts. Ref:
    parity N/A (§2.12); persistence protocol cites ref
    add_transcripts.py:199-204 via archive.py."""
    ensure_utc(spark)
    from .archive import Archive
    from .llm import bpe as llm_bpe

    d = _t(spark, sf_dir, "documents")
    merges = llm_bpe.bpe_train(d, "text", 8, distinct_pairs=True)
    art = spark.createDataFrame(
        [(i + 1, l, r, int(c)) for i, (l, r, c) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, pair_count long",
    )
    ar = Archive(spark, scratch_dir("sg_tokart_bpe_"))
    version = ar.save_table("bpe_model", art)
    loaded = ar.table("bpe_model")
    loaded_merges = [
        (r["lhs"], r["rhs"]) for r in loaded.orderBy("merge_rank").collect()
    ]
    held = d.filter(F.col("doc_id") % 2 == 1)
    applied_t = _tokens_text(
        llm_bpe.bpe_apply(held, "doc_id", "text", [m[:2] for m in merges])
    )
    applied_l = _tokens_text(
        llm_bpe.bpe_apply(held, "doc_id", "text", loaded_merges)
    )
    canon = F.concat_ws(
        ":",
        F.col("merge_rank").cast("string"),
        F.col("lhs"),
        F.col("rhs"),
        F.col("pair_count").cast("string"),
    )
    return _artifact_report(
        loaded, canon, version, held, applied_t, applied_l
    )


@spec(
    "unigram_artifact_roundtrip",
    "EXT-unigram EXT-artifact S14 S16",
    oracle=_artifact_report_sql(
        _unigram_train_sql(2),
        "piece || ':' || CAST(piece_count AS VARCHAR)",
    ),
)
def unigram_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-artifact persistence for the unigram LM: the trained
    (piece, piece_count) vocabulary commits as a versioned table, and
    the integer micro-log scores are RE-DERIVED from the reloaded
    counts (quantlog_scores is a pure function of the counts — what
    makes count-persistence sufficient), then both models Viterbi-
    tokenize the held-out slice and must agree document-for-document.
    Same checksum/versioning contract as ``bpe_artifact_roundtrip``."""
    ensure_utc(spark)
    from .archive import Archive
    from .llm import unigram as llm_unigram

    d = _t(spark, sf_dir, "documents")
    trained_rows = llm_unigram.unigram_train_viterbi(
        d, "text", iters=2
    ).collect()
    art = spark.createDataFrame(
        [(r["piece"], int(r["piece_count"])) for r in trained_rows],
        "piece string, piece_count long",
    )
    ar = Archive(spark, scratch_dir("sg_tokart_uni_"))
    version = ar.save_table("unigram_model", art)
    loaded = ar.table("unigram_model")
    cnts_t = {r["piece"]: int(r["piece_count"]) for r in trained_rows}
    cnts_l = {r["piece"]: int(r["piece_count"]) for r in loaded.collect()}
    held = d.filter(F.col("doc_id") % 2 == 1)
    applied_t = _tokens_text(
        llm_unigram.unigram_apply(
            held, "doc_id", "text", llm_unigram.quantlog_scores(cnts_t)
        )
    )
    applied_l = _tokens_text(
        llm_unigram.unigram_apply(
            held, "doc_id", "text", llm_unigram.quantlog_scores(cnts_l)
        )
    )
    canon = F.concat_ws(
        ":", F.col("piece"), F.col("piece_count").cast("string")
    )
    return _artifact_report(
        loaded, canon, version, held, applied_t, applied_l
    )


def _wordpiece_artifact_sql() -> str:
    """Oracle for the WordPiece persistence gate: the vocabulary the
    engine persists = alphabet CTE (same word split as the v0 training
    CTE) ∪ the merge products of the nested train replay."""
    return f"""
    WITH art AS ({_wordpiece_train_sql(8)}),
    wv AS (
      SELECT DISTINCT word FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS word
        FROM documents WHERE trim(text) <> ''
      ) WHERE word <> ''
    ),
    alpha AS (
      SELECT DISTINCT substr(word, 1, 1) AS piece FROM wv
      UNION
      SELECT DISTINCT '##' || c AS piece
      FROM (SELECT unnest(string_split(substr(word, 2), '')) AS c FROM wv)
      WHERE c <> ''
    ),
    vocab AS (
      SELECT DISTINCT piece FROM (
        SELECT piece FROM alpha
        UNION ALL
        SELECT lhs || substr(rhs, 3) AS piece FROM art
      )
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_artifact_rows,
           {_artifact_checksum_sql('piece')} AS artifact_checksum,
           CAST(1 AS INT) AS artifact_version,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE doc_id % 2 = 1) AS n_docs_applied,
           CAST(0 AS BIGINT) AS n_apply_mismatch,
           TRUE AS roundtrip_ok
    FROM vocab
    """


@spec(
    "wordpiece_artifact_roundtrip",
    "EXT-wordpiece EXT-artifact S14 S16",
    oracle=_wordpiece_artifact_sql(),
)
def wordpiece_artifact_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer-artifact persistence for WordPiece — the artifact is
    the VOCABULARY (what greedy apply consumes): the corpus alphabet
    (bare first chars + ##-continuations, from the same word split as
    training) plus the 8 trained merge products. The reloaded pieces
    drive ``wordpiece_apply`` with its vocabulary-derived probe bound
    (llm/wordpiece.py vocab_probe_bound — the r07-ADVICE fix that makes
    this composition lossless when merges chain past MAX_PIECE_CHARS),
    and held-out tokenization from the loaded vocabulary must equal the
    in-session one. The oracle rebuilds the identical vocabulary from
    its train replay plus an alphabet CTE over the same word split, and
    hash-checks the piece checksum."""
    ensure_utc(spark)
    from .archive import Archive
    from .llm.bpe import word_vocab

    d = _t(spark, sf_dir, "documents")
    merges = llm_wordpiece.wordpiece_train(d, "text", 8, distinct_pairs=True)
    wv = word_vocab(d, "text").select("word")
    first = wv.select(F.substring("word", 1, 1).alias("piece"))
    conts = wv.select(
        F.explode(
            F.filter(
                F.split(F.substring(F.col("word"), 2, 1 << 30), ""),
                lambda c: c != F.lit(""),
            )
        ).alias("c")
    ).select(F.concat(F.lit("##"), F.col("c")).alias("piece"))
    alpha = {r["piece"] for r in first.union(conts).distinct().collect()}
    vocab_trained = alpha | {l + r[2:] for l, r, *_ in merges}
    art = spark.createDataFrame(
        sorted((p,) for p in vocab_trained), "piece string"
    )
    ar = Archive(spark, scratch_dir("sg_tokart_wp_"))
    version = ar.save_table("wordpiece_model", art)
    loaded = ar.table("wordpiece_model")
    vocab_loaded = {r["piece"] for r in loaded.collect()}
    held = d.filter(F.col("doc_id") % 2 == 1)
    applied_t = _tokens_text(
        llm_wordpiece.wordpiece_apply(held, "doc_id", "text", vocab_trained)
    )
    applied_l = _tokens_text(
        llm_wordpiece.wordpiece_apply(held, "doc_id", "text", vocab_loaded)
    )
    return _artifact_report(
        loaded, F.col("piece"), version, held, applied_t, applied_l
    )


def _lm_checksums(uni: DataFrame, big: DataFrame) -> DataFrame:
    """One-row (uni_rows, uni_checksum, big_rows, big_checksum) over a
    bigram model's two count tables — the md5 canonical strings MUST
    stay in lockstep with _bigram_model_artifact_sql /
    _incremental_bigram_sql (both gates share this witness)."""
    from .functions.portable_hash import md5_halves

    uh, _ = md5_halves(
        F.concat_ws(":", F.col("w"), F.col("c").cast("string"))
    )
    bh, _ = md5_halves(
        F.concat_ws(
            ":", F.col("a"), F.col("b"), F.col("c2").cast("string")
        )
    )
    ustats = uni.agg(
        F.count(F.lit(1)).cast("long").alias("uni_rows"),
        F.sum(uh % F.lit(_ART_CHECK_MOD)).cast("long").alias("uni_checksum"),
    )
    bstats = big.agg(
        F.count(F.lit(1)).cast("long").alias("big_rows"),
        F.sum(bh % F.lit(_ART_CHECK_MOD)).cast("long").alias("big_checksum"),
    )
    return ustats.crossJoin(bstats)


def _score_mismatch(
    scored_a: DataFrame,
    scored_b: DataFrame,
    cols: tuple[str, ...] = ("total_micrologp", "n_tokens", "n_backoff"),
) -> DataFrame:
    """One-row (n_score_mismatch): null-safe full-outer compare of two
    (id, *cols) score frames — a dropped or extra document counts as a
    mismatch. Default columns fit the bigram scorer; the trigram gate
    passes its two-hop backoff witnesses."""
    a = scored_a.select("id", *[F.col(c).alias(f"__a_{c}") for c in cols])
    b = scored_b.select("id", *[F.col(c).alias(f"__b_{c}") for c in cols])
    same = None
    for c in cols:
        eq = F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
        same = eq if same is None else (same & eq)
    return a.join(b, "id", "full_outer").agg(
        F.sum(F.when(same, 0).otherwise(1))
        .cast("long")
        .alias("n_score_mismatch")
    )


def _msdiff_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """Multiset-difference witness: one ``one``-column row per distinct
    row-value whose multiplicity differs between two same-schema frames.

    Every sym-diff gate in this registry consumes only EMPTINESS of
    ``a.exceptAll(b).union(b.exceptAll(a))``, and an empty sym-diff is
    exactly "equal per-row-value counts" — but the exceptAll shape
    executes BOTH input plans twice inside the final job (the left/right
    roles differ, so ReuseExchange never fires; confirmed in the r13
    before-plans), while this shape aggregates each side once and joins
    the counts. groupBy and the null-safe count compare share Spark's
    NULL==NULL / NaN==NaN / -0.0==0.0 grouping semantics with exceptAll
    (all three are hash-aggregate keyings), so the emptiness answer is
    identical. The right side's key columns are renamed before the join
    so common-lineage inputs cannot trip self-join ambiguity."""
    cols = list(a.columns)
    ca = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("__ca"))
    cb = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("__cb")).select(
        *[F.col(c).alias(f"__b_{c}") for c in cols], "__cb"
    )
    cond = None
    for c in cols:
        eq = F.col(c).eqNullSafe(F.col(f"__b_{c}"))
        cond = eq if cond is None else (cond & eq)
    return (
        ca.join(cb, cond, "full_outer")
        .where(~F.col("__ca").eqNullSafe(F.col("__cb")))
        .select(F.lit(1).alias("one"))
    )


def _bigram_model_artifact_sql() -> str:
    """Oracle for the bigram-LM persistence gate: replay the two model
    aggregates (the LM's entire persistable state) over the even-doc_id
    training slice, checksum their canonical rows, and pin the
    engine-side equality witnesses to their only correct values."""
    uc = _artifact_checksum_sql("w || ':' || CAST(c AS VARCHAR)")
    bc = _artifact_checksum_sql(
        "a || ':' || b || ':' || CAST(c2 AS VARCHAR)"
    )
    return f"""
    WITH {_TOK_CTE},
    tr AS (SELECT doc_id, t FROM tok WHERE doc_id % 2 = 0),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w
    ),
    big AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
        SELECT t[k] AS a, t[k + 1] AS b
        FROM tr, LATERAL unnest(range(1, len(t))) q(k)
      ) GROUP BY a, b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uni) AS uni_rows,
           (SELECT {uc} FROM uni) AS uni_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM big) AS big_rows,
           (SELECT {bc} FROM big) AS big_checksum,
           CAST(1 AS INT) AS artifact_version,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
             AS n_docs_scored,
           CAST(0 AS BIGINT) AS n_score_mismatch,
           TRUE AS roundtrip_ok
    """


@spec(
    "bigram_model_artifact_roundtrip",
    "EXT-bigram EXT-artifact S14 S16",
    oracle=_bigram_model_artifact_sql(),
)
def bigram_model_artifact_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LM-MODEL persistence — the tokenizer-artifact story applied to
    the statistical LM family: the bigram model's entire persistable
    state is its two count tables (llm/bigram.py bigram_model_tables —
    T, the micro-log scores and the context totals are pure derivations
    of them), so both commit through the archive's versioned protocol,
    reload from parquet, and EVERY document re-scores under the loaded
    model (bigram_doc_scores_from_model) exactly as under the
    in-session one: (total_micrologp, n_tokens, n_backoff) compare
    null-safe over a full outer join, mismatches = 0. Both artifact
    checksums hash-check against the oracle's replay of the two
    training aggregates — the model that scores next month's corpus is
    byte-stable, not just row-count-stable. Ref: parity N/A (§2.12);
    persistence protocol via archive.py save_table."""
    ensure_utc(spark)
    from .archive import Archive

    d = _t(spark, sf_dir, "documents")
    # tokenize the corpus ONCE for training + both scoring passes, and
    # materialize the two model tables once for save + in-session
    # scoring — without this the gate runs ~7 independent text-scan/
    # train-aggregate subtrees (llm/bigram.py tok_frame). A/B-measured:
    # eager localCheckpoints win here (3.73 → 3.15 s) because the
    # tables are consumed by the archive write AND several scorer
    # subtrees; a lazy persist was slower than either form
    tok = llm_bigram.tok_frame(d, "doc_id", "text").localCheckpoint(
        eager=True
    )
    uni, big = llm_bigram.bigram_model_tables(
        d, "doc_id", "text", train_pred=F.col("id") % 2 == 0, tok=tok
    )
    uni = uni.localCheckpoint(eager=True)
    big = big.localCheckpoint(eager=True)
    ar = Archive(spark, scratch_dir("sg_lmart_bigram_"))
    v_uni = ar.save_table("bigram_uni", uni)
    v_big = ar.save_table("bigram_big", big)
    uni_l, big_l = ar.table("bigram_uni"), ar.table("bigram_big")
    mism = _score_mismatch(
        llm_bigram.bigram_doc_scores_from_model(
            d, "doc_id", "text", uni, big, tok=tok
        ),
        llm_bigram.bigram_doc_scores_from_model(
            d, "doc_id", "text", uni_l, big_l, tok=tok
        ),
    )
    nsc = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs_scored"))
    return (
        _lm_checksums(uni_l, big_l)
        .crossJoin(nsc)
        .crossJoin(mism)
        .select(
            "uni_rows",
            "uni_checksum",
            "big_rows",
            "big_checksum",
            F.lit(max(v_uni, v_big)).cast("int").alias("artifact_version"),
            "n_docs_scored",
            "n_score_mismatch",
            (F.col("n_score_mismatch") == 0).alias("roundtrip_ok"),
        )
    )


def _incremental_bigram_sql() -> str:
    """Oracle for the incremental LM fold: the folded model equals the
    union-retrained model exactly (integer-sum mergeability), so the
    replay just trains on the FULL corpus and checksums that — the
    engine computes its checksums over the FOLDED tables, making the
    hash match itself the mergeability proof."""
    uc = _artifact_checksum_sql("w || ':' || CAST(c AS VARCHAR)")
    bc = _artifact_checksum_sql(
        "a || ':' || b || ':' || CAST(c2 AS VARCHAR)"
    )
    return f"""
    WITH {_TOK_CTE},
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w
    ),
    big AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
        SELECT t[k] AS a, t[k + 1] AS b
        FROM tok, LATERAL unnest(range(1, len(t))) q(k)
      ) GROUP BY a, b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uni) AS uni_rows,
           (SELECT {uc} FROM uni) AS uni_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM big) AS big_rows,
           (SELECT {bc} FROM big) AS big_checksum,
           TRUE AS merge_consistent,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
             AS n_docs_scored,
           CAST(0 AS BIGINT) AS n_score_mismatch,
           TRUE AS fold_ok
    """


@spec(
    "incremental_bigram_model_equiv",
    "EXT-bigram EXT-incr-rollup EXT-sketch-merge",
    oracle=_incremental_bigram_sql(),
)
def incremental_bigram_model_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL LM maintenance — completing the fold trilogy
    (sketches merge cell-wise, ANN indexes fold row-wise, LM models
    fold COUNT-wise): a new document batch (doc_id%5=4) trains its own
    tiny model, folds into the base model by sum-merge
    (llm/bigram.py merge_model_tables — one vocabulary-sized full-outer
    join, no corpus re-scan), and the folded model must equal the
    union-retrained model EXACTLY: both checksums are computed over the
    FOLDED tables and hash-checked against the oracle's union-train
    replay (the hash match IS the mergeability proof), the cell-wise
    sym-diff witnesses ride along, and every document scores
    identically under folded vs retrained
    (bigram_doc_scores_from_model, null-safe full-outer compare)."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    # one tokenize pass serves the base/batch/full trainings and both
    # scoring passes (at 100 TB the old shape was ~17 independent
    # text-scan subtrees). Only the token frame is materialized: the
    # model-table recomputes left in the plan all read the checkpointed
    # tokens and overlap inside the one final job — A/B showed eagerly
    # checkpointing all six tables serializes more than it saves, and
    # a lazy persist was slower than either form
    tok = llm_bigram.tok_frame(d, "doc_id", "text").localCheckpoint(
        eager=True
    )
    ub, bb = llm_bigram.bigram_model_tables(
        d, "doc_id", "text", train_pred=F.col("id") % 5 != 4, tok=tok
    )
    un, bn = llm_bigram.bigram_model_tables(
        d, "doc_id", "text", train_pred=F.col("id") % 5 == 4, tok=tok
    )
    uf, bf = llm_bigram.merge_model_tables(ub, bb, un, bn)
    ud, bd = llm_bigram.bigram_model_tables(d, "doc_id", "text", tok=tok)
    diff = (
        _msdiff_rows(uf, ud)
        .select(F.lit(1).alias("one"))
        .unionByName(
            _msdiff_rows(bf, bd)
            .select(F.lit(1).alias("one"))
        )
        .agg((F.count(F.lit(1)) == 0).alias("merge_consistent"))
    )
    mism = _score_mismatch(
        llm_bigram.bigram_doc_scores_from_model(
            d, "doc_id", "text", uf, bf, tok=tok
        ),
        llm_bigram.bigram_doc_scores_from_model(
            d, "doc_id", "text", ud, bd, tok=tok
        ),
    )
    nsc = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs_scored"))
    return (
        _lm_checksums(uf, bf)
        .crossJoin(diff)
        .crossJoin(nsc)
        .crossJoin(mism)
        .select(
            "uni_rows",
            "uni_checksum",
            "big_rows",
            "big_checksum",
            "merge_consistent",
            "n_docs_scored",
            "n_score_mismatch",
            (
                F.col("merge_consistent") & (F.col("n_score_mismatch") == 0)
            ).alias("fold_ok"),
        )
    )


# ----------------------------------------------------------------------
# HTML → clean-text extraction (EXT-html; round 6)
# ----------------------------------------------------------------------

#: Three deterministic page shapes built from each document's text —
#: nav boilerplate + paragraphs + script/comment noise; uppercase
#: tags + link list + entities + noscript; minimalist unclosed-<p>
#: markup with a low-link-density div. IDENTICAL literals on the Spark
#: and DuckDB sides (the fixture is part of the replay).
_HTML_V0 = (
    '<html><head><title>T</title><style>p {color: red}</style>'
    '<script type="text/javascript">var x = 1 < 2;</script></head>'
    '<body><nav><a href="/">home</a> <a href="/x">about</a></nav><p>',
    '</p><!-- hidden <p>junk</p> --><div>',
    "</div></body></html>",
)
_HTML_V1 = (
    '<HTML><BODY><DIV CLASS="main">',
    '</DIV><UL><LI><A HREF="#">l1</A></LI><LI><A HREF="#">l2</A></LI>'
    "</UL><P>",
    " &amp; more &lt;tags&gt;</P><NOSCRIPT>enable js</NOSCRIPT>"
    "</BODY></HTML>",
)
_HTML_V2 = (
    "<body><p>",
    "<p>",
    '<div><a href="y">ref</a> tiny</div><span>tail text</span></body>',
)


def _duck_html_block_text(var: str) -> str:
    """DuckDB twin of llm/html.py _block_text: tag strip → entity chain
    (same order) → whitespace collapse → trim."""
    s = f"regexp_replace({var}, '<[^>]+>', ' ', 'g')"
    for ent, rep in llm_html.ENTITIES:
        rep_sql = rep.replace("'", "''")
        s = f"replace({s}, '{ent}', '{rep_sql}')"
    return rf"trim(regexp_replace({s}, '[ \t\n\x0B\f\r]+', ' ', 'g'))"


def _duck_html_oracle() -> str:
    v0a, v0b, v0c = (p.replace("'", "''") for p in _HTML_V0)
    v1a, v1b, v1c = (p.replace("'", "''") for p in _HTML_V1)
    v2a, v2b, v2c = (p.replace("'", "''") for p in _HTML_V2)
    bt = _duck_html_block_text("b")
    # per-SPAN link measurement (sum of each <a> span's collapsed
    # length — the same number the structural parser computes);
    # COALESCE: DuckDB list_sum([]) is NULL where Spark's fold is 0
    span_len = f"length({_duck_html_block_text('s')})"
    link_re_sql = llm_html.LINK_RE.replace("'", "''")
    lt = (
        "COALESCE(list_sum(list_transform("
        f"regexp_extract_all(b, '{link_re_sql}', 1), "
        f"s -> {span_len})), 0)"
    )
    pre = "h"
    pre = f"regexp_replace({pre}, '(?s)<!--.*?-->', ' ', 'g')"
    for tag in llm_html.DROP_CONTENT_TAGS:
        pre = (
            f"regexp_replace({pre}, "
            rf"'(?is)<{tag}[^>]*>.*?</{tag}[ \t\n\x0B\f\r]*>', ' ', 'g')"
        )
    block_re = llm_html.BLOCK_TAG_RE.replace("'", "''")
    return f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN
                    '{v0a}' || substr(COALESCE(text, ''), 1, 60) || '{v0b}'
                    || substr(COALESCE(text, ''), 61, 60) || '{v0c}'
                  WHEN doc_id % 3 = 1 THEN
                    '{v1a}' || substr(COALESCE(text, ''), 1, 60) || '{v1b}'
                    || substr(COALESCE(text, ''), 61, 60) || '{v1c}'
                  ELSE
                    '{v2a}' || substr(COALESCE(text, ''), 1, 60) || '{v2b}'
                    || substr(COALESCE(text, ''), 61, 60) || '{v2c}'
             END AS h
      FROM documents
    ),
    pre AS (SELECT doc_id, {pre} AS h2 FROM src),
    per AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 regexp_split_to_array(h2, '{block_re}'),
                 b -> {{'t': {bt}, 'l': {lt}}}),
               r -> r.t <> '') AS recs
      FROM pre
    ),
    fin AS (
      SELECT doc_id,
             list_filter(recs, r -> r.l * 100 <= 50 * length(r.t)) AS kept,
             recs
      FROM per
    )
    SELECT doc_id,
           COALESCE(array_to_string(list_transform(kept, r -> r.t), chr(10)), '')
             AS clean_text,
           CAST(len(recs) AS INT) AS n_blocks,
           CAST(len(kept) AS INT) AS kept_blocks
    FROM fin
    """


@spec(
    "html_text_extract",
    "EXT-html LLM-text S4",
    oracle=None,  # assigned right below (needs llm_html import at build)
)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → clean training text (llm/html.py): comment/script/style
    drop, block-level tag splitting, per-block tag strip + entity decode
    + whitespace collapse, and link-density boilerplate removal
    (2·link_chars > text_chars ⇒ navigation/footer, dropped) — the
    corpus-scale generalization of the reference's S4 regex scrape (ref
    scrape_my_channel.py:312-444). Pure Column regexp cascade inside the
    Java∩RE2 subset (no backreferences), whole-stage codegen, map-only —
    and therefore replayed literally by the DuckDB oracle, fixture
    construction included. The structural html.parser Arrow kernel for
    hostile markup (unclosed scripts, '>' inside attributes, nested
    links) is pytest-covered (tests/test_html.py)."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    a = F.substring(txt, 1, 60)
    b = F.substring(txt, 61, 60)
    m = F.col("doc_id") % 3
    page = (
        F.when(m == 0, F.concat(F.lit(_HTML_V0[0]), a, F.lit(_HTML_V0[1]), b, F.lit(_HTML_V0[2])))
        .when(m == 1, F.concat(F.lit(_HTML_V1[0]), a, F.lit(_HTML_V1[1]), b, F.lit(_HTML_V1[2])))
        .otherwise(F.concat(F.lit(_HTML_V2[0]), a, F.lit(_HTML_V2[1]), b, F.lit(_HTML_V2[2])))
    )
    src = d.select("doc_id", page.alias("page"))
    out = llm_html.html_text_extract(src, "doc_id", "page")
    return out.select(
        F.col("id").alias("doc_id"), "clean_text", "n_blocks", "kept_blocks"
    )


# assign the generated oracle to the just-registered spec (kept out of
# the decorator so the generator can live next to the fixture literals)
REGISTRY[-1] = replace(REGISTRY[-1], oracle=_duck_html_oracle())


# ----------------------------------------------------------------------
# Image resize (EXT-resize; round 6 — the remaining multimodal verb)
# ----------------------------------------------------------------------

@spec(
    "image_resize_stats",
    "LLM-multimodal EXT-resize",
    oracle="""
    WITH px AS (
      SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h,
             CASE WHEN (doc_id // 2) % 2 = 0
                  THEN 2 * (3 + doc_id % 5) - 1
                  ELSE (3 + doc_id % 5 + 1) // 2 END AS oh,
             CASE WHEN (doc_id // 2) % 2 = 0
                  THEN (4 + doc_id % 9 + 1) // 2
                  ELSE 2 * (4 + doc_id % 9) - 1 END AS ow,
             doc_id % 2 AS bil
      FROM documents WHERE doc_id < 100
    ),
    op AS (
      SELECT doc_id, w, h, oh, ow, bil,
             unnest(range(0, oh * ow * 3)) AS i
      FROM px
    ),
    ax AS (
      SELECT *, i // (ow * 3) AS oy, (i // 3) % ow AS ox, i % 3 AS k,
             (2 * (i // (ow * 3)) + 1) * h - oh AS numy, 2 * oh AS deny,
             (2 * ((i // 3) % ow) + 1) * w - ow AS numx, 2 * ow AS denx
      FROM op
    ),
    tap AS (
      SELECT *, (numy + deny) // deny - 1 AS y0r,
                (numx + denx) // denx - 1 AS x0r
      FROM ax
    ),
    tap2 AS (
      SELECT *,
             GREATEST(0, LEAST(y0r, h - 1)) AS y0,
             GREATEST(0, LEAST(x0r, w - 1)) AS x0,
             CASE WHEN y0r < 0 OR y0r >= h - 1 THEN 0
                  ELSE numy - y0r * deny END AS fy,
             CASE WHEN x0r < 0 OR x0r >= w - 1 THEN 0
                  ELSE numx - x0r * denx END AS fx
      FROM tap
    ),
    tap3 AS (
      SELECT *, LEAST(y0 + 1, h - 1) AS y1, LEAST(x0 + 1, w - 1) AS x1
      FROM tap2
    ),
    v AS (
      SELECT doc_id, oh, ow, i,
        CASE WHEN bil = 0 THEN
          (GREATEST(0, LEAST(((2 * oy + 1) * h) // (2 * oh), h - 1)) * 31
           + GREATEST(0, LEAST(((2 * ox + 1) * w) // (2 * ow), w - 1)) * 7
           + k * 11 + doc_id) % 251
        ELSE
          (2 * ((deny - fy) * ((denx - fx) * ((y0 * 31 + x0 * 7 + k * 11 + doc_id) % 251)
                               + fx * ((y0 * 31 + x1 * 7 + k * 11 + doc_id) % 251))
                + fy * ((denx - fx) * ((y1 * 31 + x0 * 7 + k * 11 + doc_id) % 251)
                        + fx * ((y1 * 31 + x1 * 7 + k * 11 + doc_id) % 251)))
           + deny * denx) // (2 * deny * denx)
        END AS val
      FROM tap3
    )
    SELECT doc_id AS asset_id,
           CAST(oh AS INT) AS out_h, CAST(ow AS INT) AS out_w,
           CAST(SUM(val) AS BIGINT) AS rz_sum,
           CAST(SUM((i + 1) * val) AS BIGINT) AS rz_wsum
    FROM v GROUP BY doc_id, oh, ow
    """,
)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact image RESIZE end-to-end (llm/multimodal.py
    resize_image — the remaining multimodal verb beside decode /
    feature-extract / frame-sample): conforming 8-bit RGB PNG fixtures
    decode, then each asset resizes with its own target and method —
    even ids upscale-y/downscale-x with NEAREST, odd ids the transpose
    with BILINEAR (half-pixel centers, edge-replicate clamp, 4-tap
    weighted sum in exact integer rationals, round half-up). The
    DuckDB oracle replays the generative pixel formula AND the full
    integer resize arithmetic per output sample; the order-sensitive
    weighted sum breaks on any index-mapping, clamp, or rounding slip.
    Blob synthesis is bounded driver scaffolding (<100 rows); decode +
    resize run distributed, map-only."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        int(r.doc_id)
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
        .collect()
    ]
    blobs = []
    for i in ids:
        w, h = 4 + i % 9, 3 + i % 5
        r, c, k = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        base = ((r * 31 + c * 7 + k * 11 + i) % 251).astype(np.uint8)
        blobs.append((i, bytearray(llm_multimodal.encode_png_pixels(base))))
    df = spark.createDataFrame(blobs, "doc_id long, blob binary")
    media = llm_multimodal.attach_binary(df, "doc_id", "blob", "image")

    def out_of(i: int):
        h, w = 3 + i % 5, 4 + i % 9
        if (i // 2) % 2 == 0:
            return 2 * h - 1, (w + 1) // 2
        return (h + 1) // 2, 2 * w - 1

    def method_of(i: int) -> str:
        return "bilinear" if i % 2 else "nearest"

    return llm_multimodal.image_resize_stats(media, out_of, method_of)


# ----------------------------------------------------------------------
# Probabilistic sketches (EXT-sketch-*; round 6)
# ----------------------------------------------------------------------

@spec(
    "hll_distinct_users",
    "EXT-sketch-hll A3",
    oracle=op_sketches.hll_oracle_sql("events", "user_id", 9),
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate (p=9, 512 registers) next to
    the exact distinct count it approximates — the bounded-memory scale
    path beside the exact salted distinct (operators/skew.py). Portable
    md5 hashing and an exact-integer bit-length fold make the WHOLE
    sketch — registers, harmonic sum, small-range correction, even the
    approximation error — replayable by the DuckDB oracle
    (operators/sketches.py hll_oracle_sql). One hash-keyed aggregate;
    register table is O(2^p) at any corpus size."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    return op_sketches.hll_estimate(ev, "user_id", p=9)


@spec(
    "hll_union_merge",
    "EXT-sketch-hll EXT-sketch-merge",
    oracle=op_sketches.hll_union_oracle_sql(
        "events", "user_id", "event_id % 2 = 0", 9
    ),
)
def hll_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes sketches matter at
    scale (roll up across partitions, days, datasets without
    re-scanning): the event stream splits into disjoint halves, each
    half is sketched independently, and the merged sketch (full-outer
    join + element-wise max — operators/sketches.py hll_merge) must
    estimate the union. Because max is associative/commutative, merged
    registers are IDENTICAL to sketching the combined input — emitted
    as the exact ``merge_consistent`` witness next to both estimates
    and the exact union count, all replayed by the oracle.

    Plan shape (r09 watch-list fix): ONE events scan hashes each row
    once and aggregates all THREE register tables (half a / half b /
    direct) as conditional maxes in a single 2^p-row-keyed pass —
    the former three-scan form computed the md5 bucket/rho triple per
    scan. The halves re-expand from the checkpointed (sketch-sized)
    register rows, so the merge still exercises ``hll_merge``'s
    full-outer element-wise max on real tables."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    bucket, rho = op_sketches.hll_bucket_rho(F.col("user_id"), 9)
    regs3 = (
        ev.where(F.col("user_id").isNotNull())
        .select(
            (F.col("event_id") % 2 == 0).alias("in_a"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("bucket")
        .agg(
            F.max(F.when(F.col("in_a"), F.col("rho"))).alias("rho_a"),
            F.max(F.when(~F.col("in_a"), F.col("rho"))).alias("rho_b"),
            F.max("rho").alias("rho_d"),
        )
        .localCheckpoint(eager=True)  # O(2^p) rows, reused three ways
    )
    a = regs3.where(F.col("rho_a").isNotNull()).select(
        "bucket", F.col("rho_a").alias("rho")
    )
    b = regs3.where(F.col("rho_b").isNotNull()).select(
        "bucket", F.col("rho_b").alias("rho")
    )
    merged = op_sketches.hll_estimate_from_registers(
        op_sketches.hll_merge(a, b), 9
    ).select(F.col("estimate").alias("union_estimate"))
    direct = op_sketches.hll_estimate_from_registers(
        regs3.select("bucket", F.col("rho_d").alias("rho")), 9
    ).select(F.col("estimate").alias("direct_estimate"))
    exact = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").alias("exact_union")
    )
    return (
        merged.crossJoin(direct)
        .select(
            "union_estimate",
            "direct_estimate",
            (F.col("union_estimate") == F.col("direct_estimate")).alias(
                "merge_consistent"
            ),
        )
        .crossJoin(exact)
    )


@spec(
    "cms_user_counts",
    "EXT-sketch-cms A2",
    oracle=op_sketches.cms_oracle_sql("events", "user_id"),
)
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates (depth 4 × width 4096) for every
    user's event count, next to the exact counts — the defining
    overestimate guarantee (est ≥ exact) rides along as a checked
    column, and the oracle hash-checks the ESTIMATES, collisions
    included (same md5/Kirsch-Mitzenmacher family as the portable
    MinHash). Counter table is O(depth × width) regardless of volume;
    the exact twin for heavy keys is operators/heavy_hitters.py."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    return op_sketches.cms_point_estimates(ev, "user_id")


@spec(
    "bloom_customer_filter",
    "EXT-sketch-bloom J10",
    oracle=op_sketches.bloom_oracle_sql(
        "orders", "o_custkey", "customer", "c_custkey"
    ),
)
def bloom_customer_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pruning (k=5, 2^14 bits): probe every
    customer against the filter built over order custkeys — the
    broadcastable pre-join pruning structure at 100 TB (semi-join
    without shuffling the fact side). Output counts probed /
    maybe-present / truly-present / FALSE POSITIVES — the sketch's
    entire error surface, hash-checked by the oracle which replays bit
    positions and the exact membership join."""
    ensure_utc(spark)
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return op_sketches.bloom_probe_report(
        orders, "o_custkey", customer, "c_custkey"
    )


@spec(
    "cms_union_merge",
    "EXT-sketch-cms EXT-sketch-merge",
    oracle=op_sketches.cms_union_oracle_sql(
        "events", "user_id", "event_id % 2 = 0"
    ),
)
def cms_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min MERGEABILITY (r06 verdict item 3 — the driver-gated
    twin of ``hll_union_merge`` for the CMS family): the event stream
    splits into disjoint row-halves, each half gets its own counter
    table, and the element-wise-SUM merge (operators/sketches.py
    cms_merge) must be cell-for-cell identical to sketching the
    combined input — rolling per-day/per-partition sketches up is the
    sketch's entire reason to exist at 100 TB. The gate probes every
    key through the MERGED counters and emits one row: key count, the
    estimate sums through merged vs direct counters, the exact
    merge-consistency witness (cells AND estimates), the CMS
    overestimate guarantee, and the exact total. All hashing is the
    shared portable md5 family, so the oracle replays the counters,
    the merge, and the estimates value-for-value."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 != 0)
    # both 16k-cell counter tables feed two consumers each (estimates +
    # the cell-wise compare), and each lazy consumption re-ran the
    # half/full event scans — cached (lazy persist: an EAGER checkpoint
    # here serializes two extra jobs and measured ~2x slower at bench
    # scale) so each scan runs once (r13 opt round)
    merged = op_sketches.cms_merge(
        op_sketches.cms_counters(half_a, "user_id"),
        op_sketches.cms_counters(half_b, "user_id"),
    ).persist()
    est_m = op_sketches.cms_point_estimates_from_counters(
        ev, "user_id", merged
    ).select(F.col("k"), F.col("est").alias("est_m"), "exact")
    # build the direct counter table ONCE — it feeds both the estimate
    # twin and the cell-wise compare
    direct = op_sketches.cms_counters(ev, "user_id").persist()
    est_d = op_sketches.cms_point_estimates_from_counters(
        ev, "user_id", direct
    ).select(F.col("k"), F.col("est").alias("est_d"))
    cells = (
        merged.withColumnRenamed("cnt", "cm")
        .join(direct.withColumnRenamed("cnt", "cd"), ["row", "slot"], "full_outer")
        .agg(
            F.sum(
                F.when(F.col("cm").eqNullSafe(F.col("cd")), 0).otherwise(1)
            ).alias("n_cell_diff")
        )
    )
    ests = est_m.join(est_d, "k").agg(
        F.count(F.lit(1)).cast("long").alias("keys"),
        F.sum("est_m").cast("long").alias("sum_est_merged"),
        F.sum("est_d").cast("long").alias("sum_est_direct"),
        F.sum(F.when(F.col("est_m") == F.col("est_d"), 0).otherwise(1)).alias(
            "n_est_diff"
        ),
        F.sum(F.when(F.col("est_m") >= F.col("exact"), 0).otherwise(1)).alias(
            "n_underest"
        ),
    )
    exact_total = ev.where(F.col("user_id").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("exact_total")
    )
    return (
        ests.crossJoin(cells)
        .select(
            "keys",
            "sum_est_merged",
            "sum_est_direct",
            ((F.col("n_cell_diff") == 0) & (F.col("n_est_diff") == 0)).alias(
                "merge_consistent"
            ),
            (F.col("n_underest") == 0).alias("overestimate_ok"),
        )
        .crossJoin(exact_total)
    )


@spec(
    "bloom_union_merge",
    "EXT-sketch-bloom EXT-sketch-merge",
    oracle=op_sketches.bloom_union_oracle_sql(
        "orders", "o_custkey", "customer", "c_custkey", "o_orderkey % 2 = 0"
    ),
)
def bloom_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom MERGEABILITY (r06 verdict item 3): order custkeys split
    into disjoint row-halves, each half builds its own filter, and the
    bit-union merge (operators/sketches.py bloom_merge) must equal the
    directly-built filter bit-for-bit — per-partition filters OR-ing up
    into a dataset filter is how Bloom pruning composes at scale. Every
    customer then probes through the MERGED filter: the probe report
    (probed / maybe / truly-present / FALSE POSITIVES — the sketch's
    whole error surface) rides next to the merged/direct bit counts and
    the exact bit-set-equality witness, all replayed by the oracle via
    the shared portable hash family."""
    ensure_utc(spark)
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    bits_a = op_sketches.bloom_bits(
        orders.filter(F.col("o_orderkey") % 2 == 0), "o_custkey"
    )
    bits_b = op_sketches.bloom_bits(
        orders.filter(F.col("o_orderkey") % 2 != 0), "o_custkey"
    )
    merged = op_sketches.bloom_merge(bits_a, bits_b)
    direct = op_sketches.bloom_bits(orders, "o_custkey")
    report = op_sketches.bloom_probe_report_from_bits(
        merged, orders, "o_custkey", customer, "c_custkey"
    )
    nbm = merged.agg(F.count(F.lit(1)).cast("long").alias("nbits_merged"))
    nbd = direct.agg(F.count(F.lit(1)).cast("long").alias("nbits_direct"))
    sym_diff = (
        _msdiff_rows(merged, direct)
        .agg(F.count(F.lit(1)).alias("n_diff"))
        .select((F.col("n_diff") == 0).alias("merge_consistent"))
    )
    return report.crossJoin(nbm).crossJoin(nbd).crossJoin(sym_diff)


@spec(
    "stream_hll_distinct_users",
    "EXT-sketch-hll EXT-stream-agg T5",
    oracle=op_sketches.hll_oracle_sql("events", "user_id", 9),
)
def stream_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog maintained INCREMENTALLY over a stream — sketch
    mergeability in TIME, completing the space-mergeability story of
    ``hll_union_merge``/``cms_union_merge``/``bloom_union_merge``: the
    event stream replays as a file source, each micro-batch folds its
    rows into the 2^9 register table via a streaming max-aggregate
    (state is O(512) registers FOREVER — the entire reason sketches
    exist in streaming: exact distinct-count state grows O(keys),
    unbounded on an infinite stream), and the drained registers must
    estimate EXACTLY what the batch sketch estimates — max is
    associative/commutative/idempotent, so incremental maintenance is
    byte-identical to one-shot construction, and the gate shares the
    batch gate's oracle verbatim (hll_oracle_sql: same hash, same rho
    CASE-sum, same harmonic estimate, beside the exact distinct). The
    per-row (bucket, rho) projection is the SAME expression the batch
    path uses (operators/sketches.py hll_bucket_rho)."""
    ensure_utc(spark)
    stream = read_table_stream(spark, sf_dir, "events").select("user_id")
    bucket, rho = op_sketches.hll_bucket_rho(F.col("user_id"), 9)
    regs = (
        stream.where(F.col("user_id").isNotNull())
        .select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    drained = _run_stream(
        regs,
        state_partitions=_stream_parallelism(spark),
        output_mode="complete",
    )
    est = op_sketches.hll_estimate_from_registers(drained, 9)
    ev = _t(spark, sf_dir, "events")
    return est.crossJoin(
        ev.where(F.col("user_id").isNotNull()).agg(
            F.countDistinct("user_id").alias("exact_distinct")
        )
    )


@spec(
    "stream_cms_user_counts",
    "EXT-sketch-cms EXT-stream-agg T5",
    oracle=op_sketches.cms_oracle_sql("events", "user_id"),
)
def stream_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min maintained INCREMENTALLY over a stream (the CMS member
    of the streaming-sketch family beside ``stream_hll_distinct_users``):
    each micro-batch explodes its rows into depth×width (row, slot)
    cells and a streaming count-aggregate folds them into the counter
    table — state is O(4×4096) cells FOREVER versus O(distinct keys)
    for exact streaming frequency counting. Count is
    associative/commutative, so the drained counters are IDENTICAL to
    the batch sketch; every key then probes through them batch-side,
    and the gate shares the batch gate's oracle verbatim
    (cms_oracle_sql — same hashes, same counters, same estimates, same
    est≥exact guarantee)."""
    ensure_utc(spark)
    width = 4096
    # the SAME per-row cell projection the batch cms_counters uses
    # (operators/sketches.py cms_cell_rows — the hll_bucket_rho device),
    # applied to a streaming source + streaming count-aggregate
    stream = (
        op_sketches.cms_cell_rows(
            read_table_stream(spark, sf_dir, "events").select("user_id"),
            "user_id",
            depth=4,
            width=width,
        )
        .groupBy("row", "slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    drained = _run_stream(
        stream,
        state_partitions=_stream_parallelism(spark),
        output_mode="complete",
    )
    ev = _t(spark, sf_dir, "events")
    return op_sketches.cms_point_estimates_from_counters(
        ev, "user_id", drained, depth=4, width=width
    )


@spec(
    "stream_bloom_customer_filter",
    "EXT-sketch-bloom EXT-stream-agg T5",
    oracle=op_sketches.bloom_oracle_sql(
        "orders", "o_custkey", "customer", "c_custkey"
    ),
)
def stream_bloom_customer_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom filter BUILT INCREMENTALLY over a stream — each
    micro-batch's order custkeys hash to k bit positions and a
    streaming distinct-aggregate accumulates the set-bit table (state
    is O(m_bits)=2^14 FOREVER; set-union is associative / commutative /
    idempotent, so the drained bits are IDENTICAL to the batch filter).
    Every customer then probes through the streamed bits batch-side,
    and the gate shares the batch gate's oracle verbatim
    (bloom_oracle_sql — same bit positions, same probe report, false
    positives included). This completes the streaming-sketch family:
    HLL (max), CMS (sum), Bloom (set-union) all maintain incrementally
    with O(sketch) state."""
    ensure_utc(spark)
    k, m_bits = 5, 1 << 14
    # the SAME per-row position projection the batch bloom_bits uses
    # (operators/sketches.py bloom_position_rows), accumulated by a
    # streaming distinct-aggregate
    stream = (
        op_sketches.bloom_position_rows(
            read_table_stream(spark, sf_dir, "orders").select("o_custkey"),
            "o_custkey",
            k,
            m_bits,
        )
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    drained = _run_stream(
        stream,
        state_partitions=_stream_parallelism(spark),
        output_mode="complete",
    ).select("pos")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return op_sketches.bloom_probe_report_from_bits(
        drained, orders, "o_custkey", customer, "c_custkey", k, m_bits
    )


@spec(
    "histogram_quantile_sketch",
    "EXT-sketch-quantile EXT-sketch-merge EXT-percentile EXT-histogram",
    oracle=op_sketches.histogram_quantile_oracle_sql(
        "events", "value", "event_id % 2 = 0"
    ),
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles join the sketch family with a FULLY-REPLAYABLE
    estimator (operators/sketches.py histogram_quantile_report): 64
    equi-width bins over event values, p50/p90/p99 interpolated within
    the covering bin — every number is floor/linear arithmetic over
    exact integer counts, so unlike t-digest (``approx_percentile``,
    threshold-self-checked in ``event_value_percentiles`` because its
    internals aren't SQL-expressible) the DuckDB oracle hash-checks the
    ESTIMATES themselves. The one row carries all three sketch
    contracts at once: the estimates beside their exact
    ``percentile``/``quantile_cont`` twins, the structural guarantee
    "estimate lies INSIDE the bin covering rank n·q" as checked
    ``{tag}_in_bin`` columns (a theorem; |est − exact| ≤ bin width is
    deliberately NOT claimed — the sketch ranks at n·q while
    percentile ranks at (n−1)·q, which straddles empty bins on gappy
    data, see operators/sketches.py), and MERGEABILITY —
    disjoint event_id halves binned independently and summed must equal
    the direct histogram cell-for-cell (integer sum; the CMS economics
    applied to quantiles: O(bins) state, map-side partial combine,
    element-wise-sum rollup across partitions/days)."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    return op_sketches.histogram_quantile_report(
        ev, "value", split=F.col("event_id") % 2 == 0
    )


@spec(
    "stream_histogram_quantiles",
    "EXT-sketch-quantile EXT-stream-agg T5",
    oracle=op_sketches.histogram_quantile_oracle_sql(
        "events", "value", "event_id % 2 = 0"
    ),
)
def stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-quantile sketch maintained INCREMENTALLY over a stream
    — completing the streaming-sketch family symmetry (HLL max, CMS
    sum, Bloom set-union, histogram SUM): the event stream replays as a
    file source, each micro-batch bins its values through the SAME
    per-row projection the batch path uses
    (operators/sketches.py histogram_bin_expr, against driver-collected
    [lo, hi] bounds — the fixed-range configuration every production
    streaming histogram runs with) and a streaming count-aggregate
    folds them into the 64-bin counter table: state is O(64) FOREVER
    versus O(values) for exact streaming quantiles. Count-sum is
    associative/commutative, so the drained bins are IDENTICAL to the
    batch histogram — the report's mergeability witness here compares
    the DRAINED stream counters against the batch-built half-sum
    (stream ≡ batch, cell-for-cell), and the gate shares the batch
    gate's oracle verbatim (histogram_quantile_oracle_sql: same bins,
    same interpolation, same half-up rounding)."""
    ensure_utc(spark)
    bins = 64
    ev = _t(spark, sf_dir, "events")
    src = ev.where(F.col("value").isNotNull()).select(
        F.col("value").cast("double").alias("v"),
        (F.col("event_id") % 2 == 0).alias("__half"),
    )
    srow = src.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()  # two doubles + a count — the sketch config
    # rebuild the one-row stats frame from the collected scalars: the
    # lazy agg frame was consumed by the binning AND the report's four
    # rank-arithmetic crossJoins, re-running the fact scan each time
    # (r13 opt round: 4 scans → 0; a Python float round-trips the
    # aggregated double bit-for-bit, so every downstream number is
    # unchanged)
    stats = spark.createDataFrame(
        [(srow["lo"], srow["hi"], srow["n"])], "lo double, hi double, n long"
    )
    if srow["lo"] is None:
        # no non-null values: nothing to stream — an empty counter
        # table flows through the same report path, degrading to the
        # identical 0-row report the batch twin (and the oracle) emits
        drained = spark.createDataFrame([], "bin long, cnt long")
    else:
        stream = (
            read_table_stream(spark, sf_dir, "events")
            .where(F.col("value").isNotNull())
            .select(
                op_sketches.histogram_bin_expr(
                    F.col("value").cast("double"),
                    F.lit(float(srow["lo"])),
                    F.lit(float(srow["hi"])),
                    bins,
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        drained = _run_stream(
            stream,
            state_partitions=_stream_parallelism(spark),
            output_mode="complete",
        )
    binned = src.crossJoin(F.broadcast(stats)).select(
        op_sketches.histogram_bin_expr(
            F.col("v"), F.col("lo"), F.col("hi"), bins
        ).alias("bin"),
        "__half",
    )
    _, merged = op_sketches.histogram_counters(binned)
    return op_sketches.histogram_report_from_counters(
        drained, merged, stats, ev, "value", bins
    )


@spec(
    "histogram_range_shards",
    "EXT-sketch-quantile EXT-partition EXT-histogram",
    oracle=op_sketches.histogram_range_shard_oracle_sql("events", "value"),
)
def histogram_range_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced RANGE-shard assignment from the histogram sketch — the
    write-layout application of the quantile family
    (operators/sketches.py histogram_range_shard_report): 8 output
    ranges whose boundaries come from the 64-bin cumulative
    distribution instead of the sample-sort ``repartitionByRange``
    runs, so a ranged/sorted parquet layout gets near-equal file sizes
    from exact integer arithmetic the oracle replays. Each bin joins
    the shard whose quota its first row falls into (integer division —
    engine-exact); shards are consecutive bin runs, so their value
    ranges are DISJOINT by construction (``range_disjoint`` witness via
    lag over the ≤8 shard rows) and each shard's size is bounded by
    quota + one bin (``balanced_ok``). At 100 TB this is the
    distribution-aware alternative to sampling: the histogram is one
    map-side-combinable aggregate reused from the quantile gate, the
    shard map is 64 rows broadcast back at the scan."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    return op_sketches.histogram_range_shard_report(
        ev, "value", bins=64, shards=8
    )


def _ivf_artifact_sql() -> str:
    """Oracle for the IVF-index persistence gate: the index's entire
    persistable state — the centroid table and the inverted-lists
    assignment — replays in SQL (the ``incremental_ivf_equiv`` device),
    both artifact checksums hash over the same canonical strings the
    engine computes on the RELOADED parquet, and the search through the
    loaded index replays as the standard probe + re-rank chain."""
    cent_ck = _artifact_checksum_sql("CAST(cid AS VARCHAR)")
    list_ck = _artifact_checksum_sql(
        "CAST(vec_id AS VARCHAR) || ':' || CAST(cid AS VARCHAR)"
    )
    return f"""
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 16),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT e.vec_id, e.v, c.cid,
             ROUND(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))), 6) AS acos
      FROM e CROSS JOIN c
    ),
    asn AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY acos DESC, cid) AS rn
        FROM scored) WHERE rn = 1
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT c.cid FROM c CROSS JOIN q
      ORDER BY ROUND(list_dot_product(qv, c.cv) /
                     (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid
      LIMIT 4
    ),
    topk AS (
      SELECT a.vec_id,
             ROUND(list_dot_product(a.v, qv) /
                   (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM asn a JOIN probe USING (cid) CROSS JOIN q
      ORDER BY cos_sim DESC, a.vec_id
      LIMIT 10
    ),
    exact10 AS (
      SELECT e.vec_id FROM e CROSS JOIN q
      ORDER BY ROUND(list_dot_product(e.v, qv) /
                     (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(qv, qv))), 4) DESC, e.vec_id
      LIMIT 10
    ),
    hits AS (SELECT CAST(COUNT(*) AS BIGINT) AS recall_hits
             FROM topk JOIN exact10 USING (vec_id)),
    cstat AS (SELECT CAST(COUNT(*) AS BIGINT) AS cent_rows,
                     {cent_ck} AS cent_checksum FROM c),
    lstat AS (SELECT CAST(COUNT(*) AS BIGINT) AS list_rows,
                     {list_ck} AS list_checksum FROM asn)
    SELECT t.vec_id, t.cos_sim, TRUE AS search_consistent,
           cs.cent_rows, cs.cent_checksum, ls.list_rows, ls.list_checksum,
           CAST(1 AS INT) AS artifact_version, h.recall_hits
    FROM topk t, hits h, cstat cs, lstat ls
    """


@spec(
    "ivf_artifact_roundtrip",
    "LLM-sim-ann-ivf EXT-artifact EXT-ann-incr S14 S16",
    oracle=_ivf_artifact_sql(),
)
def ivf_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-INDEX persistence (r08 verdict item 4) — the artifact story's
    third family after tokenizers and LM models: an IVF index's entire
    persistable state is its centroid table + inverted-lists assignment
    (llm/similarity.py ivf_index — ``v``/``vn`` ride along so the
    re-rank never re-reads the corpus), so both commit through the
    archive's versioned crash-safe protocol, reload from parquet, and
    the vec_id=0 search through the LOADED index must return exactly
    the built-index top-10 (``search_consistent`` — sym-diff, and the
    emitted rows themselves come from the loaded path). Both artifact
    checksums hash-check against the oracle's full SQL replay of the
    assignment (cid set + vec_id:cluster rows), and ``recall_hits``
    rides along exact as in ``incremental_ivf_equiv`` — together with
    that gate this closes the daily-growth loop: reload last month's
    index, fold today's batch, search. Ref: parity N/A (§2.12);
    persistence via archive.py save_table."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    cdf = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("long").alias("cid"),
        llm_similarity.as_double("embedding").alias("cv"),
    )
    idx = llm_similarity.ivf_index(e, cdf)
    ar = Archive(spark, scratch_dir("sg_ivfart_"))
    v_c = ar.save_table("ivf_centroids", cdf)
    v_l = ar.save_table("ivf_lists", idx)
    cdf_l = ar.table("ivf_centroids")
    idx_l = ar.table("ivf_lists")
    topk_l = llm_similarity.ivf_search_index(
        idx_l, cdf_l, q, nprobe=4, k=10
    ).localCheckpoint()
    topk_b = llm_similarity.ivf_search_index(idx, cdf, q, nprobe=4, k=10)
    diff = (
        _msdiff_rows(topk_l, topk_b)
        .agg((F.count(F.lit(1)) == 0).alias("search_consistent"))
    )
    ch_c, _ = md5_halves(F.col("cid").cast("string"))
    cstat = cdf_l.agg(
        F.count(F.lit(1)).cast("long").alias("cent_rows"),
        F.sum(ch_c % F.lit(_ART_CHECK_MOD)).cast("long").alias("cent_checksum"),
    )
    ch_l, _ = md5_halves(
        F.concat_ws(
            ":", F.col("vec_id").cast("string"), F.col("cluster").cast("string")
        )
    )
    lstat = idx_l.agg(
        F.count(F.lit(1)).cast("long").alias("list_rows"),
        F.sum(ch_l % F.lit(_ART_CHECK_MOD)).cast("long").alias("list_checksum"),
    )
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    hits = (
        topk_l.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("recall_hits"))
    )
    return (
        topk_l.crossJoin(diff)
        .crossJoin(cstat)
        .crossJoin(lstat)
        .crossJoin(hits)
        .select(
            "vec_id",
            "cos_sim",
            "search_consistent",
            "cent_rows",
            "cent_checksum",
            "list_rows",
            "list_checksum",
            F.lit(max(v_c, v_l)).cast("int").alias("artifact_version"),
            "recall_hits",
        )
    )


@spec(
    "pq_artifact_roundtrip",
    "EXT-pq-ann EXT-artifact EXT-ann-incr S14 S16",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS returned, CAST(256 AS BIGINT) AS book_rows,
           TRUE AS books_consistent, TRUE AS code_consistent,
           TRUE AS topk_consistent, CAST(1 AS INT) AS artifact_version,
           TRUE AS recall_ok
    """,
)
def pq_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-INDEX persistence — the artifact device applied to the
    codebook + code-store pair: codebooks flatten to an (j, c, cv)
    table (llm/similarity.py pq_books_table — the ndarray's entire
    state, KBs), the code store is already a DataFrame, both commit
    through the archive's versioned protocol and reload;
    ``books_consistent`` asserts the reloaded ndarray is BIT-identical
    (float64→parquet DOUBLE→float64 is exact), ``code_consistent``
    re-encodes the corpus under the LOADED books and compares
    cell-for-cell against the LOADED code table (binding both artifact
    halves), ``topk_consistent`` asserts the ADC search through loaded
    codes + loaded books returns exactly the built-path top-10, and
    ``recall_ok`` keeps the pq_ann_recall ≥8/10 contract. PQ's numpy
    internals aren't SQL-expressible, so the oracle pins the reduced
    scalars, like ``incremental_pq_equiv``."""
    ensure_utc(spark)
    from .archive import Archive

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    books = llm_similarity.pq_train_codebooks(e, k=32)
    codes = llm_similarity.pq_encode(e, books).localCheckpoint()
    ar = Archive(spark, scratch_dir("sg_pqart_"))
    v_b = ar.save_table(
        "pq_books", llm_similarity.pq_books_table(spark, books)
    )
    v_c = ar.save_table("pq_codes", codes)
    bdf_l = ar.table("pq_books")
    books_l = llm_similarity.pq_books_from_table(bdf_l)
    codes_l = ar.table("pq_codes")
    books_ok = bool(
        books_l.shape == books.shape and (books_l == books).all()
    )

    def _codes_str(df):
        return df.select(
            "vec_id",
            F.concat_ws(",", F.col("codes").cast("array<string>")).alias("cs"),
        )

    reenc = llm_similarity.pq_encode(e, books_l)
    code_diff = (
        _msdiff_rows(_codes_str(codes_l), _codes_str(reenc))
        .agg((F.count(F.lit(1)) == 0).alias("code_consistent"))
    )
    topk_l = llm_similarity.pq_topk_from_codes(
        codes_l, e, q, books_l, k=10, pool=400
    ).localCheckpoint()
    topk_b = llm_similarity.pq_topk_from_codes(
        codes, e, q, books, k=10, pool=400
    )
    topk_diff = (
        _msdiff_rows(topk_l, topk_b)
        .agg((F.count(F.lit(1)) == 0).alias("topk_consistent"))
    )
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    hits = (
        topk_l.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("hit_cnt"))
    )
    return (
        topk_l.agg(F.count(F.lit(1)).cast("long").alias("returned"))
        .crossJoin(bdf_l.agg(F.count(F.lit(1)).cast("long").alias("book_rows")))
        .crossJoin(code_diff)
        .crossJoin(topk_diff)
        .crossJoin(hits)
        .select(
            "returned",
            "book_rows",
            F.lit(books_ok).alias("books_consistent"),
            "code_consistent",
            "topk_consistent",
            F.lit(max(v_b, v_c)).cast("int").alias("artifact_version"),
            (F.col("hit_cnt") >= 8).alias("recall_ok"),
        )
    )


@spec(
    "heavy_hitter_merge",
    "EXT-heavy-hitters EXT-sketch-merge",
    oracle=_HH_ORACLE,
)
def heavy_hitter_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries summary MERGEABILITY (r08 verdict item 5) — the
    deterministic summary joins the HLL/CMS/Bloom/histogram merge
    family: the corpus splits into two disjoint halves (doc_id parity),
    each half reduces its per-partition summaries into ONE (k-1)-slot
    half-summary, the two half-summaries MERGE by the same
    combine-counters-then-trim rule (operators/heavy_hitters.py
    mg_combine_summaries — the Agarwal et al. 2012 invariant
    k·error ≤ N − Σcounters survives both the sum and the trim, so the
    merged candidate set is still a superset of the true heavy
    hitters), and the exact recount of the merged candidates over the
    FULL corpus must equal the orthodox full-vocabulary GROUP BY —
    the gate shares the batch gate's oracle verbatim. This is the
    month-folds-into-year operation: merging summaries costs O(k)
    rows, never a corpus re-read."""
    from .operators.heavy_hitters import (
        mg_combine_summaries,
        mg_partition_summaries,
        recount_candidates,
    )

    ensure_utc(spark)
    # tokenize+explode once: occ feeds both halves' kernels and the
    # final recount (3 corpus passes when lazy)
    occ = llm_rarity.word_occurrences(
        _t(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    half_a = occ.filter(F.col("doc_id") % 2 == 0).select("w")
    half_b = occ.filter(F.col("doc_id") % 2 == 1).select("w")
    s_a = mg_combine_summaries(
        mg_partition_summaries(half_a, "w", 32), "w", 32
    )
    s_b = mg_combine_summaries(
        mg_partition_summaries(half_b, "w", 32), "w", 32
    )
    merged = mg_combine_summaries(s_a.unionByName(s_b), "w", 32)
    return recount_candidates(occ.select("w"), merged.select("w"), "w", 32)


@spec(
    "incremental_cc_equiv",
    "EXT-concomp EXT-incr-rollup LLM-dedup-jaccard",
    oracle="WITH RECURSIVE " + _JACCARD_EDGE_CTES + r"""
    SELECT doc_id, cluster_id, TRUE AS fold_consistent
    FROM lab
    """,
)
def incremental_cc_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components (r08 verdict item 6) — the
    graph member of the fold family: the 3-gram Jaccard pair list
    splits into a base set and a new daily batch ((doc_a+doc_b)%3=2),
    the base labels compute once, and the batch FOLDS in by contraction
    (llm/cluster.py fold_components — relabel endpoints through the
    existing labels, CC on the batch-bounded contracted graph, map old
    labels through the merge map; the old edge set is never re-read).
    Folded labels must equal the full recompute on all pairs EXACTLY:
    the emitted rows come from the FOLDED path and hash-check against
    the oracle's recursive-CTE closure over the full pair graph, with
    the engine-side sym-diff against the recomputed labels riding
    along (``fold_consistent``). Min-labeling makes this exact, not
    approximate: a component's label is its minimum member, and the
    minimum over merged labels is the minimum over member nodes."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    pairs = llm_dedup.jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.4
    ).localCheckpoint(eager=True)
    is_new = (F.col("doc_a") + F.col("doc_b")) % 3 == 2
    base_labels = llm_cluster.connected_components(
        pairs.filter(~is_new), "doc_a", "doc_b"
    )
    folded = llm_cluster.fold_components(
        base_labels, pairs.filter(is_new), "doc_a", "doc_b"
    ).localCheckpoint(eager=True)
    full = llm_cluster.connected_components(pairs, "doc_a", "doc_b")
    diff = (
        _msdiff_rows(folded, full)
        .agg((F.count(F.lit(1)) == 0).alias("fold_consistent"))
    )
    return folded.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    ).crossJoin(diff)


def _trigram_model_artifact_sql() -> str:
    """Oracle for the trigram-LM persistence gate: replay the THREE
    model aggregates (the order-3 LM's entire persistable state) over
    the even-doc_id training slice, checksum their canonical rows, and
    pin the engine-side equality witnesses to their only correct
    values — the ``_bigram_model_artifact_sql`` device with one more
    table."""
    uc = _artifact_checksum_sql("w || ':' || CAST(c AS VARCHAR)")
    bc = _artifact_checksum_sql(
        "a || ':' || b || ':' || CAST(c2 AS VARCHAR)"
    )
    tc = _artifact_checksum_sql(
        "a || ':' || b || ':' || c || ':' || CAST(c3 AS VARCHAR)"
    )
    return f"""
    WITH {_TOK_CTE},
    tr AS (SELECT doc_id, t FROM tok WHERE doc_id % 2 = 0),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w
    ),
    big AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
        SELECT t[k] AS a, t[k + 1] AS b
        FROM tr, LATERAL unnest(range(1, len(t))) q(k)
      ) GROUP BY a, b
    ),
    tri AS (
      SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
        SELECT t[k] AS a, t[k + 1] AS b, t[k + 2] AS c
        FROM tr, LATERAL unnest(range(1, len(t) - 1)) q(k)
      ) GROUP BY a, b, c
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uni) AS uni_rows,
           (SELECT {uc} FROM uni) AS uni_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM big) AS big_rows,
           (SELECT {bc} FROM big) AS big_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS tri_rows,
           (SELECT {tc} FROM tri) AS tri_checksum,
           CAST(1 AS INT) AS artifact_version,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
             AS n_docs_scored,
           CAST(0 AS BIGINT) AS n_score_mismatch,
           TRUE AS roundtrip_ok
    """


@spec(
    "trigram_model_artifact_roundtrip",
    "EXT-trigram EXT-artifact S14 S16",
    oracle=_trigram_model_artifact_sql(),
)
def trigram_model_artifact_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDER-3 LM persistence (r08 verdict item 7) — closes the LM
    artifact family's symmetry gap: the trigram model's entire
    persistable state is its three count tables (llm/bigram.py
    trigram_model_tables — T, the micro-log scores and BOTH context
    totals are pure derivations), so all three commit through the
    archive's versioned protocol, reload from parquet, and EVERY
    document re-scores under the loaded model
    (trigram_doc_scores_from_model) exactly as under the in-session
    one — (total_micrologp, n_tokens, n_backoff2, n_backoff1) compare
    null-safe over a full outer join, mismatches = 0. All three
    artifact checksums hash-check against the oracle's replay of the
    training aggregates. Ref: parity N/A (§2.12)."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves

    d = _t(spark, sf_dir, "documents")
    # tokenize ONCE for training + both scoring passes; materialize
    # the three model tables once for save + in-session scoring (the
    # bigram_model_artifact_roundtrip trade, measured the same way)
    tok = llm_bigram.tok_frame(d, "doc_id", "text").localCheckpoint(
        eager=True
    )
    uni, big, tri = llm_bigram.trigram_model_tables(
        d, "doc_id", "text", train_pred=F.col("id") % 2 == 0, tok=tok
    )
    uni = uni.localCheckpoint(eager=True)
    big = big.localCheckpoint(eager=True)
    tri = tri.localCheckpoint(eager=True)
    ar = Archive(spark, scratch_dir("sg_lmart_trigram_"))
    v1 = ar.save_table("trigram_uni", uni)
    v2 = ar.save_table("trigram_big", big)
    v3 = ar.save_table("trigram_tri", tri)
    uni_l = ar.table("trigram_uni")
    big_l = ar.table("trigram_big")
    tri_l = ar.table("trigram_tri")
    mism = _score_mismatch(
        llm_bigram.trigram_doc_scores_from_model(
            d, "doc_id", "text", uni, big, tri, tok=tok
        ),
        llm_bigram.trigram_doc_scores_from_model(
            d, "doc_id", "text", uni_l, big_l, tri_l, tok=tok
        ),
        cols=("total_micrologp", "n_tokens", "n_backoff2", "n_backoff1"),
    )
    th, _ = md5_halves(
        F.concat_ws(
            ":",
            F.col("a"),
            F.col("b"),
            F.col("c"),
            F.col("c3").cast("string"),
        )
    )
    tstats = tri_l.agg(
        F.count(F.lit(1)).cast("long").alias("tri_rows"),
        F.sum(th % F.lit(_ART_CHECK_MOD)).cast("long").alias("tri_checksum"),
    )
    nsc = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs_scored"))
    return (
        _lm_checksums(uni_l, big_l)
        .crossJoin(tstats)
        .crossJoin(nsc)
        .crossJoin(mism)
        .select(
            "uni_rows",
            "uni_checksum",
            "big_rows",
            "big_checksum",
            "tri_rows",
            "tri_checksum",
            F.lit(max(v1, v2, v3)).cast("int").alias("artifact_version"),
            "n_docs_scored",
            "n_score_mismatch",
            (F.col("n_score_mismatch") == 0).alias("roundtrip_ok"),
        )
    )


def _incremental_trigram_sql() -> str:
    """Oracle for the incremental trigram fold: the folded model equals
    the union-retrained model exactly (integer-sum mergeability at all
    three orders), so the replay trains on the FULL corpus and
    checksums that — the engine computes its checksums over the FOLDED
    tables, making the hash match itself the mergeability proof (the
    ``_incremental_bigram_sql`` device, one table deeper)."""
    uc = _artifact_checksum_sql("w || ':' || CAST(c AS VARCHAR)")
    bc = _artifact_checksum_sql(
        "a || ':' || b || ':' || CAST(c2 AS VARCHAR)"
    )
    tc = _artifact_checksum_sql(
        "a || ':' || b || ':' || c || ':' || CAST(c3 AS VARCHAR)"
    )
    return f"""
    WITH {_TOK_CTE},
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w
    ),
    big AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
        SELECT t[k] AS a, t[k + 1] AS b
        FROM tok, LATERAL unnest(range(1, len(t))) q(k)
      ) GROUP BY a, b
    ),
    tri AS (
      SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
        SELECT t[k] AS a, t[k + 1] AS b, t[k + 2] AS c
        FROM tok, LATERAL unnest(range(1, len(t) - 1)) q(k)
      ) GROUP BY a, b, c
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM uni) AS uni_rows,
           (SELECT {uc} FROM uni) AS uni_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM big) AS big_rows,
           (SELECT {bc} FROM big) AS big_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS tri_rows,
           (SELECT {tc} FROM tri) AS tri_checksum,
           TRUE AS merge_consistent,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
             AS n_docs_scored,
           CAST(0 AS BIGINT) AS n_score_mismatch,
           TRUE AS fold_ok
    """


@spec(
    "incremental_trigram_model_equiv",
    "EXT-trigram EXT-incr-rollup EXT-sketch-merge",
    oracle=_incremental_trigram_sql(),
)
def incremental_trigram_model_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL order-3 LM maintenance — the fold family at trigram
    depth: a new document batch (doc_id%5=4) trains its own tiny
    model, folds into the base model by sum-merge at all three orders
    (llm/bigram.py merge_trigram_model_tables — three type-table-sized
    full-outer joins, no corpus re-scan), and the folded model must
    equal the union-retrained model EXACTLY: all three checksums are
    computed over the FOLDED tables and hash-checked against the
    oracle's union-train replay, the cell-wise sym-diff witnesses ride
    along (``merge_consistent``), and every document scores identically
    under folded vs retrained (trigram_doc_scores_from_model, null-safe
    full-outer compare over both backoff hops)."""
    ensure_utc(spark)
    from .functions.portable_hash import md5_halves

    d = _t(spark, sf_dir, "documents")
    # one tokenize pass for base/batch/full trainings + both scoring
    # passes; only the token frame is materialized (the
    # incremental_bigram_model_equiv trade, measured the same way)
    tok = llm_bigram.tok_frame(d, "doc_id", "text").localCheckpoint(
        eager=True
    )
    mb = llm_bigram.trigram_model_tables(
        d, "doc_id", "text", train_pred=F.col("id") % 5 != 4, tok=tok
    )
    mn = llm_bigram.trigram_model_tables(
        d, "doc_id", "text", train_pred=F.col("id") % 5 == 4, tok=tok
    )
    uf, bf, tf = llm_bigram.merge_trigram_model_tables(mb, mn)
    ud, bd, td = llm_bigram.trigram_model_tables(
        d, "doc_id", "text", tok=tok
    )
    diff = (
        _msdiff_rows(uf, ud)
        .select(F.lit(1).alias("one"))
        .unionByName(
            _msdiff_rows(bf, bd)
            .select(F.lit(1).alias("one"))
        )
        .unionByName(
            _msdiff_rows(tf, td)
            .select(F.lit(1).alias("one"))
        )
        .agg((F.count(F.lit(1)) == 0).alias("merge_consistent"))
    )
    mism = _score_mismatch(
        llm_bigram.trigram_doc_scores_from_model(
            d, "doc_id", "text", uf, bf, tf, tok=tok
        ),
        llm_bigram.trigram_doc_scores_from_model(
            d, "doc_id", "text", ud, bd, td, tok=tok
        ),
        cols=("total_micrologp", "n_tokens", "n_backoff2", "n_backoff1"),
    )
    th, _ = md5_halves(
        F.concat_ws(
            ":",
            F.col("a"),
            F.col("b"),
            F.col("c"),
            F.col("c3").cast("string"),
        )
    )
    tstats = tf.agg(
        F.count(F.lit(1)).cast("long").alias("tri_rows"),
        F.sum(th % F.lit(_ART_CHECK_MOD)).cast("long").alias("tri_checksum"),
    )
    nsc = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs_scored"))
    return (
        _lm_checksums(uf, bf)
        .crossJoin(tstats)
        .crossJoin(diff)
        .crossJoin(nsc)
        .crossJoin(mism)
        .select(
            "uni_rows",
            "uni_checksum",
            "big_rows",
            "big_checksum",
            "tri_rows",
            "tri_checksum",
            "merge_consistent",
            "n_docs_scored",
            "n_score_mismatch",
            (F.col("n_score_mismatch") == 0).alias("fold_ok"),
        )
    )


@spec(
    "hll_artifact_fold_roundtrip",
    "EXT-sketch-hll EXT-artifact EXT-sketch-merge S14 S16",
    oracle=op_sketches.hll_artifact_oracle_sql(
        "events", "user_id", "event_id % 2 = 0", 9, _ART_CHECK_MOD
    ),
)
def hll_artifact_fold_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH-ARTIFACT persistence, HLL — the artifact story's fourth
    family (tokenizers, LM models, ANN indexes, now sketches): a
    sketch's persistable state IS its register table, so yesterday's
    HLL commits through the archive's versioned protocol, reloads from
    parquet, and today's batch FOLDS into the LOADED registers by
    greatest-merge (operators/sketches.py hll_merge) — the estimate
    through the folded sketch must equal sketching the full input
    directly (max is associative: ``merge_consistent`` exact), the
    saved table's canonical checksum replays in the oracle, and the
    exact union rides along. This is the daily-rollup loop a 100 TB
    metrics store actually runs: load last month's 2^9-row sketch,
    fold today, save back — never a re-scan."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves

    ev = _t(spark, sf_dir, "events")
    base_regs = op_sketches.hll_registers(
        ev.filter(F.col("event_id") % 2 == 0), "user_id", 9
    )
    ar = Archive(spark, scratch_dir("sg_skart_hll_"))
    v = ar.save_table("hll_user_regs", base_regs)
    regs_l = ar.table("hll_user_regs")
    folded = op_sketches.hll_merge(
        regs_l,
        op_sketches.hll_registers(
            ev.filter(F.col("event_id") % 2 != 0), "user_id", 9
        ),
    )
    union_est = op_sketches.hll_estimate_from_registers(folded, 9).select(
        F.col("estimate").alias("union_estimate")
    )
    direct_est = op_sketches.hll_estimate_from_registers(
        op_sketches.hll_registers(ev, "user_id", 9), 9
    ).select(F.col("estimate").alias("direct_estimate"))
    h, _ = md5_halves(
        F.concat_ws(
            ":", F.col("bucket").cast("string"), F.col("rho").cast("string")
        )
    )
    art = regs_l.agg(
        F.count(F.lit(1)).cast("long").alias("saved_registers"),
        F.sum(h % F.lit(_ART_CHECK_MOD)).cast("long").alias("saved_checksum"),
    )
    exact = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").alias("exact_union")
    )
    return (
        art.crossJoin(union_est)
        .crossJoin(direct_est)
        .select(
            "saved_registers",
            "saved_checksum",
            "union_estimate",
            "direct_estimate",
            (F.col("union_estimate") == F.col("direct_estimate")).alias(
                "merge_consistent"
            ),
        )
        .crossJoin(exact)
        .withColumn("artifact_version", F.lit(v).cast("int"))
    )


@spec(
    "cms_artifact_fold_roundtrip",
    "EXT-sketch-cms EXT-artifact EXT-sketch-merge S14 S16",
    oracle=op_sketches.cms_artifact_oracle_sql(
        "events", "user_id", "event_id % 2 = 0", _ART_CHECK_MOD
    ),
)
def cms_artifact_fold_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH-ARTIFACT persistence, Count-Min: the saved artifact is
    the counter table; the new batch's counters FOLD into the LOADED
    table by cell-wise sum (operators/sketches.py cms_merge), every key
    probes through the folded counters, and the result must be
    cell-for-cell and estimate-for-estimate identical to sketching the
    full input directly (integer sum is associative). The saved table's
    canonical checksum replays in the oracle; the CMS overestimate
    guarantee rides along over the folded counters."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves

    ev = _t(spark, sf_dir, "events")
    base_cnt = op_sketches.cms_counters(
        ev.filter(F.col("event_id") % 2 == 0), "user_id"
    )
    ar = Archive(spark, scratch_dir("sg_skart_cms_"))
    v = ar.save_table("cms_user_counters", base_cnt)
    cnt_l = ar.table("cms_user_counters")
    # both counter tables are 16k cells and feed two consumers each
    # (estimates + the cell-wise compare): checkpoint so the batch and
    # direct counter builds — each a full event scan — run once
    folded = op_sketches.cms_merge(
        cnt_l,
        op_sketches.cms_counters(
            ev.filter(F.col("event_id") % 2 != 0), "user_id"
        ),
    ).localCheckpoint(eager=True)
    est_m = op_sketches.cms_point_estimates_from_counters(
        ev, "user_id", folded
    ).select(F.col("k"), F.col("est").alias("est_m"), "exact")
    # build the direct counter table ONCE — it feeds both the estimate
    # twin and the cell-wise compare (review catch: the previous
    # cms_point_estimates call rebuilt the identical table internally)
    direct = op_sketches.cms_counters(ev, "user_id").localCheckpoint(
        eager=True
    )
    est_d = op_sketches.cms_point_estimates_from_counters(
        ev, "user_id", direct
    ).select(F.col("k"), F.col("est").alias("est_d"))
    cells = (
        folded.withColumnRenamed("cnt", "cm")
        .join(
            direct.withColumnRenamed("cnt", "cd"), ["row", "slot"], "full_outer"
        )
        .agg(
            F.sum(
                F.when(F.col("cm").eqNullSafe(F.col("cd")), 0).otherwise(1)
            ).alias("n_cell_diff")
        )
    )
    ests = est_m.join(est_d, "k").agg(
        F.count(F.lit(1)).cast("long").alias("keys"),
        F.sum("est_m").cast("long").alias("sum_est_merged"),
        F.sum("est_d").cast("long").alias("sum_est_direct"),
        F.sum(F.when(F.col("est_m") == F.col("est_d"), 0).otherwise(1)).alias(
            "n_est_diff"
        ),
        F.sum(F.when(F.col("est_m") >= F.col("exact"), 0).otherwise(1)).alias(
            "n_underest"
        ),
    )
    h, _ = md5_halves(
        F.concat_ws(
            ":",
            F.col("row").cast("string"),
            F.col("slot").cast("string"),
            F.col("cnt").cast("string"),
        )
    )
    art = cnt_l.agg(
        F.count(F.lit(1)).cast("long").alias("saved_cells"),
        F.sum(h % F.lit(_ART_CHECK_MOD)).cast("long").alias("saved_checksum"),
    )
    exact_total = ev.where(F.col("user_id").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("exact_total")
    )
    return (
        art.crossJoin(ests)
        .crossJoin(cells)
        .select(
            "saved_cells",
            "saved_checksum",
            "keys",
            "sum_est_merged",
            "sum_est_direct",
            ((F.col("n_cell_diff") == 0) & (F.col("n_est_diff") == 0)).alias(
                "merge_consistent"
            ),
            (F.col("n_underest") == 0).alias("overestimate_ok"),
        )
        .crossJoin(exact_total)
        .withColumn("artifact_version", F.lit(v).cast("int"))
    )


@spec(
    "bloom_artifact_fold_roundtrip",
    "EXT-sketch-bloom EXT-artifact EXT-sketch-merge S14 S16",
    oracle=op_sketches.bloom_artifact_oracle_sql(
        "orders",
        "o_custkey",
        "customer",
        "c_custkey",
        "o_orderkey % 2 = 0",
        _ART_CHECK_MOD,
    ),
)
def bloom_artifact_fold_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SKETCH-ARTIFACT persistence, Bloom: the saved artifact is the
    set-bit-position table; the new half's bits FOLD into the LOADED
    table by bit-union (operators/sketches.py bloom_merge), every
    customer probes through the folded filter, and the folded bit set
    must equal the directly-built filter bit-for-bit (set union is
    associative: ``merge_consistent`` exact). The probe report — the
    sketch's whole error surface, false positives included — and the
    saved table's canonical checksum all replay in the oracle."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    bits_a = op_sketches.bloom_bits(
        orders.filter(F.col("o_orderkey") % 2 == 0), "o_custkey"
    )
    ar = Archive(spark, scratch_dir("sg_skart_bloom_"))
    v = ar.save_table("bloom_cust_bits", bits_a)
    bits_l = ar.table("bloom_cust_bits")
    folded = op_sketches.bloom_merge(
        bits_l,
        op_sketches.bloom_bits(
            orders.filter(F.col("o_orderkey") % 2 != 0), "o_custkey"
        ),
    ).localCheckpoint(eager=True)
    report = op_sketches.bloom_probe_report_from_bits(
        folded, orders, "o_custkey", customer, "c_custkey"
    )
    direct = op_sketches.bloom_bits(orders, "o_custkey")
    bitcmp = (
        folded.join(direct, "pos", "full_outer")
        .agg(F.count(F.lit(1)).cast("long").alias("n_union"))
        .crossJoin(folded.agg(F.count(F.lit(1)).cast("long").alias("nbits_merged")))
        .crossJoin(direct.agg(F.count(F.lit(1)).cast("long").alias("nd")))
        .select(
            "nbits_merged",
            (
                (F.col("n_union") == F.col("nbits_merged"))
                & (F.col("n_union") == F.col("nd"))
            ).alias("merge_consistent"),
        )
    )
    h, _ = md5_halves(F.col("pos").cast("string"))
    art = bits_l.agg(
        F.count(F.lit(1)).cast("long").alias("saved_bits"),
        F.sum(h % F.lit(_ART_CHECK_MOD)).cast("long").alias("saved_checksum"),
    )
    return (
        art.crossJoin(report)
        .crossJoin(bitcmp)
        .select(
            "saved_bits",
            "saved_checksum",
            "probed",
            "maybe_present",
            "true_present",
            "false_positives",
            "nbits_merged",
            "merge_consistent",
        )
        .withColumn("artifact_version", F.lit(v).cast("int"))
    )


@spec(
    "histogram_artifact_frozen_fold",
    "EXT-sketch-quantile EXT-histogram EXT-artifact EXT-sketch-merge S14 S16",
    oracle=op_sketches.histogram_artifact_oracle_sql(
        "events", "value", "event_id % 2 = 0", 64, _ART_CHECK_MOD
    ),
)
def histogram_artifact_frozen_fold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SKETCH-ARTIFACT persistence, histogram — under FROZEN-edge
    semantics, the contract a persisted histogram actually has: the
    saved artifact is the (lo, hi) edge row plus the bin-count table,
    and new batches bin under the LOADED edges with out-of-range values
    clamping into the edge bins (operators/sketches.py
    histogram_bin_expr_frozen — the in-plan form never sees
    out-of-range values; the fold-time twin must). The batch's counts
    FOLD into the loaded table by cell-wise sum, and the folded
    histogram must equal binning the full input under the same frozen
    edges directly (integer sums: ``fold_consistent`` exact). The saved
    table's canonical checksum and the frozen edges replay in the
    oracle. This closes the sketch family's artifact story: the
    range-dependence that kept the histogram out of the plain fold trio
    is exactly what freezing the edges resolves."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves

    bins = 64
    ev = _t(spark, sf_dir, "events")
    base = ev.filter(
        (F.col("event_id") % 2 == 0) & F.col("value").isNotNull()
    ).select(F.col("value").cast("double").alias("v"))
    batch = ev.filter(
        (F.col("event_id") % 2 != 0) & F.col("value").isNotNull()
    ).select(F.col("value").cast("double").alias("v"))
    edges = base.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    bins_base = (
        base.crossJoin(F.broadcast(edges))
        .select(
            op_sketches.histogram_bin_expr_frozen(
                F.col("v"), F.col("lo"), F.col("hi"), bins
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ar = Archive(spark, scratch_dir("sg_skart_hist_"))
    v1 = ar.save_table("hist_edges", edges)
    v2 = ar.save_table("hist_bins", bins_base)
    edges_l = ar.table("hist_edges")
    bins_l = ar.table("hist_bins")

    def _binned(src):
        return (
            src.crossJoin(F.broadcast(edges_l))
            .select(
                op_sketches.histogram_bin_expr_frozen(
                    F.col("v"), F.col("lo"), F.col("hi"), bins
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    folded = (
        bins_l.withColumnRenamed("cnt", "ca")
        .join(_binned(batch).withColumnRenamed("cnt", "cb"), "bin", "full_outer")
        .select(
            "bin",
            (F.coalesce("ca", F.lit(0)) + F.coalesce("cb", F.lit(0))).alias(
                "cnt"
            ),
        )
        .localCheckpoint(eager=True)
    )
    direct = _binned(base.unionAll(batch))
    cmp_ = (
        folded.withColumnRenamed("cnt", "cf")
        .join(direct.withColumnRenamed("cnt", "cd"), "bin", "full_outer")
        .agg(
            F.sum(
                F.when(F.col("cf").eqNullSafe(F.col("cd")), 0).otherwise(1)
            ).alias("n_diff")
        )
        .select((F.col("n_diff") == 0).alias("fold_consistent"))
    )
    h, _ = md5_halves(
        F.concat_ws(
            ":", F.col("bin").cast("string"), F.col("cnt").cast("string")
        )
    )
    art = bins_l.agg(
        F.count(F.lit(1)).cast("long").alias("saved_bins"),
        F.sum(h % F.lit(_ART_CHECK_MOD)).cast("long").alias("saved_checksum"),
    )

    def half_up2(c):
        return F.floor(c * 100 + F.lit(0.5)) / 100.0

    return (
        art.crossJoin(
            edges_l.select(
                half_up2(F.col("lo")).alias("lo_edge"),
                half_up2(F.col("hi")).alias("hi_edge"),
            )
        )
        .crossJoin(
            folded.agg(F.sum("cnt").cast("long").alias("n_total"))
        )
        .crossJoin(cmp_)
        .withColumn(
            "artifact_version", F.lit(max(v1, v2)).cast("int")
        )
        .select(
            "saved_bins",
            "saved_checksum",
            "lo_edge",
            "hi_edge",
            "n_total",
            "fold_consistent",
            "artifact_version",
        )
    )


@spec(
    "heavy_hitter_artifact_fold",
    "EXT-heavy-hitters EXT-artifact EXT-sketch-merge S14 S16",
    oracle=_HH_ORACLE,
)
def heavy_hitter_artifact_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries summary ARTIFACT — completing the MG grid (merge ✓
    heavy_hitter_merge, streaming ✓ stream_heavy_hitter_words, artifact
    here): yesterday's (k-1)-slot candidate summary is a (w, cnt)
    table, so it commits through the archive's versioned protocol,
    reloads from parquet, and today's batch summary FOLDS into the
    LOADED one by the combine-then-trim rule (operators/heavy_hitters.py
    mg_combine_summaries — the invariant k·error ≤ N − Σcounters is
    indifferent to a parquet roundtrip of exact longs, so the folded
    candidate set stays a superset of the true heavy hitters). The
    exact recount over the full corpus decides, and the gate shares the
    batch oracle verbatim — the forever-running pipeline shape: load
    the summary, fold the day, recount on demand, save back."""
    ensure_utc(spark)
    from .archive import Archive
    from .operators.heavy_hitters import (
        mg_combine_summaries,
        mg_partition_summaries,
        recount_candidates,
    )

    # tokenize+explode once (the heavy_hitter_merge device)
    occ = llm_rarity.word_occurrences(
        _t(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    base = occ.filter(F.col("doc_id") % 2 == 0).select("w")
    batch = occ.filter(F.col("doc_id") % 2 == 1).select("w")
    s_base = mg_combine_summaries(
        mg_partition_summaries(base, "w", 32), "w", 32
    )
    ar = Archive(spark, scratch_dir("sg_skart_mg_"))
    ar.save_table("mg_word_summary", s_base)
    s_loaded = ar.table("mg_word_summary")
    s_batch = mg_combine_summaries(
        mg_partition_summaries(batch, "w", 32), "w", 32
    )
    folded = mg_combine_summaries(
        s_loaded.unionByName(s_batch), "w", 32
    )
    return recount_candidates(occ.select("w"), folded.select("w"), "w", 32)


@spec(
    "hll_distinct_users_by_type",
    "EXT-sketch-hll A3 A2",
    oracle=op_sketches.hll_grouped_oracle_sql("events", "event_type", "user_id", 9),
)
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED HLL — approximate distinct users PER EVENT TYPE next to
    the exact counts: the scale replacement for ``GROUP BY
    count(DISTINCT user_id)``, whose shuffle carries every distinct
    (type, user) pair; the sketch form shuffles at most groups × 2^9
    register rows with full map-side combine
    (operators/sketches.py hll_registers_grouped /
    hll_estimates_grouped). At 100 TB this is THE daily-dashboard
    aggregate — per-dimension cardinalities from one bounded-state
    pass — and per-group registers merge across days exactly like the
    scalar sketch (same element-wise max). Both the estimates and the
    exact twins hash-check against the oracle's replay of the full
    hash/rho/harmonic arithmetic."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    regs = op_sketches.hll_registers_grouped(ev, "event_type", "user_id", 9)
    est = op_sketches.hll_estimates_grouped(regs, 9)
    exact = (
        ev.where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("g"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "g").select(
        F.col("g").alias("event_type"),
        "estimate",
        "nonzero_registers",
        "exact_distinct",
    )


@spec(
    "event_value_quantiles_by_type",
    "EXT-sketch-quantile EXT-histogram A8",
    oracle=op_sketches.histogram_quantiles_grouped_oracle_sql(
        "events", "event_type", "value", 64, (0.5, 0.9)
    ),
)
def event_value_quantiles_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED histogram quantiles — per-event-type p50/p90 from 64-bin
    histograms (operators/sketches.py histogram_quantiles_grouped):
    per-group edges, one keyed bin-count aggregate, a per-group
    cumulative sum over groups × bins rows, first-covering-bin
    interpolation. The per-dimension-percentile dashboard aggregate at
    100 TB: the only fact-sized stage is the binning scan; everything
    downstream is O(groups × bins) and map-side combinable — where
    ``approx_percentile`` per group carries t-digest state, this is
    deterministic integer/floor arithmetic the oracle replays
    value-for-value (same contract as histogram_quantile_sketch, keyed
    by group)."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    return op_sketches.histogram_quantiles_grouped(
        ev, "event_type", "value", 64, (0.5, 0.9)
    ).select(
        F.col("g").alias("event_type"), "n_rows", "p5_est", "p9_est"
    )


@spec(
    "heavy_hitter_words_by_lang",
    "EXT-heavy-hitters LLM-text A8",
    oracle=f"""
    WITH {_TOK_CTE},
    occ AS (
      SELECT d.lang AS g, u.w
      FROM tok JOIN documents d USING (doc_id), unnest(t) AS u(w)
      WHERE d.lang IS NOT NULL
    ),
    tot AS (SELECT g, COUNT(*) AS n FROM occ GROUP BY g)
    SELECT o.g AS lang, o.w, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ANY_VALUE(t.n) AS BIGINT) AS n_group
    FROM occ o JOIN tot t ON o.g = t.g
    GROUP BY o.g, o.w
    HAVING COUNT(*) * 32 > ANY_VALUE(t.n)
    """,
)
def heavy_hitter_words_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED heavy hitters — the dominant words PER LANGUAGE, exact,
    completing the grouped triad (grouped HLL counts distinct per
    dimension, grouped histogram ranks values per dimension, this finds
    the dominant VALUES per dimension): per-partition per-group
    Misra-Gries summaries (operators/heavy_hitters.py
    _mg_summary_grouped — the k·err_g ≤ N_g − Σcounters_g invariant
    holds independently per group, so each group's candidate set is a
    superset of its true heavy hitters), then an exact recount of the
    broadcast (group, word) candidate pairs only. The oracle is the
    orthodox per-group GROUP BY ... HAVING over the whole vocabulary.
    At 100 TB this is per-corpus-slice stopword/boilerplate detection
    without shuffling each slice's full vocabulary."""
    from .operators.heavy_hitters import exact_heavy_hitters_grouped

    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    occ = d.where(F.col("lang").isNotNull()).select(
        "lang", F.explode(llm_text.tokens("text")).alias("w")
    )
    return exact_heavy_hitters_grouped(occ, "lang", "w", k=32)


@spec(
    "cms_user_counts_by_type",
    "EXT-sketch-cms A2 A8",
    oracle=op_sketches.cms_grouped_oracle_sql("events", "event_type", "user_id"),
)
def cms_user_counts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED Count-Min — per-event-type frequency estimates for every
    user's event count next to the exact counts, completing the
    grouped-sketch grid's frequency cell (grouped HLL counts distinct
    per dimension, grouped histogram ranks, grouped MG finds dominant
    values; this ESTIMATES any value's frequency per dimension with
    bounded state). One counter table per group from a single keyed
    aggregate (operators/sketches.py cms_counters_grouped): the group
    key joins the (row, slot) cell identity, so every per-group table
    obeys est ≥ exact independently — the witness rides along per
    (type, user) row and the oracle replays the per-group counters,
    collisions included. State is O(groups × depth × width) regardless
    of volume; per-group counters merge across days by the same
    element-wise sum as the scalar sketch."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    return op_sketches.cms_point_estimates_grouped(
        ev, "event_type", "user_id"
    ).select(
        F.col("g").alias("event_type"),
        "k",
        "est",
        "exact",
        "overestimate_ok",
    )


@spec(
    "bloom_filter_by_type",
    "EXT-sketch-bloom J10 A8",
    oracle=op_sketches.bloom_grouped_oracle_sql(
        "events", "event_type", "user_id", "customer", "c_custkey"
    ),
)
def bloom_filter_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED Bloom — one membership filter PER EVENT TYPE over the
    users who produced that type, probed by every customer: the
    partition-pruning index asked group-wise ("which event-type
    partitions can skip this key?"), completing the grouped-sketch
    grid's membership cell. Each group's bit table is exactly the
    scalar filter over that group's rows (the group key joins the bit
    identity — operators/sketches.py bloom_bits_grouped), so per-group
    false positives are independent and the oracle hash-checks each
    group's full error surface. The probe side hashes ONCE (positions
    are group-independent); the group×key probe matrix is a broadcast
    cross join against the ≤ dim-cardinality group list, never a
    data×data cartesian. At 100 TB: per-partition filters roll up by
    distinct-union and prune shuffle input partition-by-partition."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    return op_sketches.bloom_probe_report_grouped(
        ev, "event_type", "user_id", customer, "c_custkey"
    ).select(
        F.col("g").alias("event_type"),
        "probed",
        "maybe_present",
        "true_present",
        "false_positives",
    )


@spec(
    "minhash_index_artifact_roundtrip",
    "LLM-dedup-minhash EXT-artifact S14 S16",
    oracle="WITH " + _minhash_band_pipeline_ctes(
        "SELECT doc_id AS doc, text FROM documents"
    ) + """
    SELECT doc_a, doc_b, est_jaccard,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sig) AS sig_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bands) AS band_rows,
           TRUE AS sig_consistent, TRUE AS band_consistent,
           CAST(1 AS INT) AS artifact_version
    FROM est WHERE est_jaccard >= 0.25
    """,
)
def minhash_index_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH index PERSISTENCE — the near-dup family joins the
    artifact families (tokenizers, LM models, IVF/PQ, sketches, MG all
    roundtrip through archive.py; the band index didn't): the signature
    table (doc, sig array<bigint>) and the band-bucket index (doc, band,
    bucket) — together the ENTIRE queryable state of a near-dup store —
    commit through the versioned Archive, reload, and must answer
    identically. The gate emits the reloaded index's candidate pairs
    (hash-checked against the oracle's full band replay) alongside
    saved-table row counts and the reload≡rebuild sym-diff witnesses.
    At 100 TB the index IS the product: signatures are computed once
    per doc ever, and dedup queries run against the stored band table,
    never a re-shingled corpus."""
    from .archive import Archive

    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    sig = llm_dedup.minhash_signatures(
        d, "doc_id", "text", 32, 3, portable=True
    ).localCheckpoint(eager=True)
    bands = llm_dedup.minhash_band_table(
        sig, 32, 16, portable=True
    ).localCheckpoint(eager=True)
    ar = Archive(spark, scratch_dir("sg_mhart_"))
    v_s = ar.save_table("mh_sigs", sig)
    v_b = ar.save_table("mh_bands", bands)
    sig_l = ar.table("mh_sigs")
    bands_l = ar.table("mh_bands")

    def _sig_str(df):
        return df.select(
            "doc",
            F.concat_ws(",", F.col("sig").cast("array<string>")).alias("s"),
        )

    sig_diff = (
        _msdiff_rows(_sig_str(sig_l), _sig_str(sig))
        .agg((F.count(F.lit(1)) == 0).alias("sig_consistent"))
    )
    band_diff = (
        _msdiff_rows(bands_l, bands)
        .agg((F.count(F.lit(1)) == 0).alias("band_consistent"))
    )
    pairs = llm_dedup.lsh_pairs_from_index(bands_l, sig_l, 32).filter(
        F.col("est_jaccard") >= 0.25
    )
    counts = sig_l.agg(
        F.count(F.lit(1)).cast("long").alias("sig_rows")
    ).crossJoin(
        bands_l.agg(F.count(F.lit(1)).cast("long").alias("band_rows"))
    )
    return (
        pairs.crossJoin(counts)
        .crossJoin(sig_diff)
        .crossJoin(band_diff)
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            "sig_rows",
            "band_rows",
            "sig_consistent",
            "band_consistent",
            F.lit(max(v_s, v_b)).cast("int").alias("artifact_version"),
        )
    )


@spec(
    "incremental_minhash_equiv",
    "LLM-dedup-minhash EXT-incr-rollup EXT-artifact",
    oracle="WITH " + _minhash_band_pipeline_ctes(
        "SELECT doc_id AS doc, text FROM documents"
    ) + """
    SELECT doc_a, doc_b, est_jaccard, TRUE AS fold_consistent
    FROM est WHERE est_jaccard >= 0.25
    """,
)
def incremental_minhash_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MinHash-LSH index maintenance — the daily operation
    of a 100 TB dedup store: yesterday's signature + band tables are
    Archive artifacts, today's doc batch (doc_id % 3 = 2) signs and
    bands ONLY ITSELF under the frozen family parameters read back from
    the persisted ``mh_params`` table, and the fold is a pure append
    (banding is per-doc, so index(old ∪ new) = index(old) ∪ index(new)
    — no rebuild, no re-shingling of the base corpus). Candidate pairs
    from the FOLDED index must equal the full-rebuild pairs exactly:
    the emitted rows come from the folded path, hash-checked against
    the oracle's replay over the whole corpus, with the engine-side
    sym-diff against the rebuilt index riding along
    (``fold_consistent``) — the ``incremental_ivf_equiv`` device for
    the near-dup family."""
    from .archive import Archive

    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 3 != 2)
    batch = d.filter(F.col("doc_id") % 3 == 2)
    sig_base = llm_dedup.minhash_signatures(
        base, "doc_id", "text", 32, 3, portable=True
    ).localCheckpoint(eager=True)
    bands_base = llm_dedup.minhash_band_table(sig_base, 32, 16, portable=True)
    ar = Archive(spark, scratch_dir("sg_mhfold_"))
    ar.save_table("mh_sigs", sig_base)
    ar.save_table("mh_bands", bands_base)
    # the frozen hash-family parameters the daily fold must reuse —
    # persisted WITH the index, read back to drive the batch banding
    ar.save_table(
        "mh_params",
        spark.createDataFrame(
            [(32, 16, 3)], "num_hashes int, bands int, shingle_k int"
        ),
    )
    p = ar.table("mh_params").first()
    sig_l = ar.table("mh_sigs")
    bands_l = ar.table("mh_bands")
    sig_batch = llm_dedup.minhash_signatures(
        batch, "doc_id", "text", p["num_hashes"], p["shingle_k"], portable=True
    )
    bands_batch = llm_dedup.minhash_band_table(
        sig_batch, p["num_hashes"], p["bands"], portable=True
    )
    folded_sig = sig_l.unionByName(sig_batch).localCheckpoint(eager=True)
    folded_bands = bands_l.unionByName(bands_batch).localCheckpoint(eager=True)
    pairs_f = llm_dedup.lsh_pairs_from_index(
        folded_bands, folded_sig, p["num_hashes"]
    ).localCheckpoint(eager=True)
    sig_full = llm_dedup.minhash_signatures(
        d, "doc_id", "text", 32, 3, portable=True
    ).localCheckpoint(eager=True)
    pairs_r = llm_dedup.lsh_pairs_from_index(
        llm_dedup.minhash_band_table(sig_full, 32, 16, portable=True),
        sig_full,
        32,
    )
    diff = (
        _msdiff_rows(pairs_f, pairs_r)
        .agg((F.count(F.lit(1)) == 0).alias("fold_consistent"))
    )
    return pairs_f.filter(F.col("est_jaccard") >= 0.25).crossJoin(diff)


@spec(
    "stream_cc_labels",
    "EXT-concomp EXT-stream-cdc T5",
    oracle="WITH RECURSIVE " + _JACCARD_EDGE_CTES + r"""
    SELECT doc_id, cluster_id, TRUE AS stream_consistent
    FROM lab
    """,
)
def stream_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING connected components END-TO-END (streaming/cc.py
    run_cc_stream) — the graph trio's missing streaming member
    (sketches, Misra-Gries, BPE-apply and CDC all had streaming twins;
    connectivity didn't): the 3-gram Jaccard pair list replays as a
    file stream split into MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over a 4-file staging write), and each batch
    FOLDS into a versioned label table by contraction
    (llm/cluster.py fold_components inside foreachBatch — two keyed
    joins over the batch + CC on the batch-bounded contracted graph;
    the historical edge set is never re-read). The drained table must
    equal the one-shot batch CC on the full edge set — exact for ANY
    micro-batch layout because each fold is exact (min-over-merged-
    labels = min-over-members, the ``incremental_cc_equiv`` argument,
    applied inductively). Emitted rows come from the DRAINED table,
    hash-checked against the oracle's recursive-CTE closure, with the
    engine-side sym-diff against the batch recompute riding along.
    At 100 TB this is the dedup-graph ingest loop: pair batches arrive
    continuously and the label store stays current without ever
    recomputing history."""
    from .streaming.cc import run_cc_stream

    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    pairs = llm_dedup.jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.4
    ).select("doc_a", "doc_b").localCheckpoint(eager=True)
    table_root = scratch_dir("sg_ccs_tbl_")
    with staged_stream(pairs, 4) as (updates, ckpt):
        drained = run_cc_stream(
            updates, "doc_a", "doc_b", table_root, ckpt
        ).localCheckpoint(eager=True)
    full = llm_cluster.connected_components(pairs, "doc_a", "doc_b")
    diff = (
        _msdiff_rows(drained, full)
        .agg((F.count(F.lit(1)) == 0).alias("stream_consistent"))
    )
    return drained.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    ).crossJoin(diff)


@spec(
    "weighted_sample_merge",
    "EXT-sample-weighted EXT-sketch-merge O7",
    oracle="""
    WITH pri AS (
      SELECT doc_id, n_chars,
             CASE WHEN n_chars <= 0 THEN 0.0 ELSE
               round(pow(
                 (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) + 1) / 4294967296.0,
                 1.0 / n_chars), 6)
             END AS priority
      FROM documents
    )
    SELECT doc_id, n_chars, priority, TRUE AS merge_consistent FROM (
      SELECT * FROM pri ORDER BY priority DESC, doc_id LIMIT 64
    )
    """,
)
def weighted_sample_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-sample MERGEABILITY — what makes the A-Res sampler a
    bounded-state DISTRIBUTED op, same contract as the sketch merges:
    each shard keeps only its top-k by priority (O(k) state), and
    re-ranking the union of two shard summaries must equal sampling the
    combined input directly. Exact, not approximate: the priority is a
    pure function of the row (md5(doc_id), weight) and the (priority
    DESC, doc_id) order is strict, so top-k(A ∪ B) =
    top-k(top-k(A) ∪ top-k(B)) — the emitted rows come from the MERGED
    path, hash-checked against the oracle's direct replay, with the
    engine-side sym-diff against the direct sample riding along. At
    100 TB this is month-folds-into-year for training-mixture sampling:
    per-day top-k tables merge in O(k) without re-reading any corpus."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    half_a = d.filter(F.col("doc_id") % 2 == 0)
    half_b = d.filter(F.col("doc_id") % 2 != 0)
    sa = llm_sampling.weighted_sample(half_a, "doc_id", "n_chars", 64)
    sb = llm_sampling.weighted_sample(half_b, "doc_id", "n_chars", 64)
    merged = (
        sa.unionByName(sb)
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(64)
        .localCheckpoint(eager=True)
    )
    direct = llm_sampling.weighted_sample(d, "doc_id", "n_chars", 64)
    diff = (
        _msdiff_rows(merged, direct)
        .agg((F.count(F.lit(1)) == 0).alias("merge_consistent"))
    )
    return merged.select("doc_id", "n_chars", "priority").crossJoin(diff)


@spec(
    "stream_lsh_ingest_dups",
    "LLM-dedup-minhash EXT-stream-cdc T5",
    oracle="WITH " + _minhash_band_pipeline_ctes(
        """SELECT doc_id AS doc, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc, text FROM documents"""
    ) + """
    SELECT doc_a, doc_b, est_jaccard, TRUE AS stream_consistent
    FROM est WHERE est_jaccard >= 0.5
    """,
)
def stream_lsh_ingest_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online near-dup detection AT INGEST — dedup-before-store as a
    stream (streaming/dedup.py run_lsh_ingest_stream): the cloned
    corpus replays as doc micro-batches (maxFilesPerTrigger=1 over a
    4-file staging write); each batch signs and bands only itself,
    probes the STORED band table for near-dups of everything already
    ingested, self-joins for within-batch pairs, then APPENDS its rows
    to the store (the log-structured index fold — banding is per-doc,
    so the fold is a pure append). Every candidate pair surfaces
    exactly once — inside the batch carrying both docs, or when the
    later doc probes the store — so the drained pair set must equal
    the one-shot LSH pair list of the full corpus for ANY micro-batch
    layout. Emitted rows come from the DRAINED store, hash-checked
    against the oracle's full band replay (shared verbatim with
    minhash_lsh_dups), with the engine-side sym-diff riding along.
    At 100 TB this is THE corpus ingest loop: per-batch cost is one
    keyed join against the band store, and history is never
    re-shingled."""
    from .streaming.dedup import run_lsh_ingest_stream

    ensure_utc(spark)
    corpus = _cloned_docs(spark, sf_dir).select(
        F.col("doc_id").alias("doc"), "text"
    )
    index_root = scratch_dir("sg_lshing_idx_")
    with staged_stream(corpus, 4) as (updates, ckpt):
        pairs, _sigs, _bands = run_lsh_ingest_stream(
            updates, index_root, ckpt, 32, 16, 3, portable=True
        )
    pairs = pairs.localCheckpoint(eager=True)
    batch_pairs = llm_dedup.minhash_lsh_pairs(
        corpus, "doc", "text", num_hashes=32, bands=16, portable=True
    )
    diff = (
        _msdiff_rows(pairs, batch_pairs)
        .agg((F.count(F.lit(1)) == 0).alias("stream_consistent"))
    )
    return pairs.filter(F.col("est_jaccard") >= 0.5).crossJoin(diff)


@spec(
    "weighted_sample_by_source",
    "EXT-sample-weighted A8 W1",
    oracle="""
    SELECT source, doc_id, n_chars, priority FROM (
      SELECT source, doc_id, n_chars,
             CASE WHEN n_chars <= 0 THEN 0.0 ELSE
               round(pow(
                 (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) + 1) / 4294967296.0,
                 1.0 / n_chars), 6)
             END AS priority,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CASE WHEN n_chars <= 0 THEN 0.0 ELSE
                 round(pow(
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) + 1) / 4294967296.0,
                   1.0 / n_chars), 6) END DESC, doc_id
             ) AS rk
      FROM documents WHERE source IS NOT NULL
    ) WHERE rk <= 16
    """,
)
def weighted_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED weighted sampling — k docs PER SOURCE, weighted by
    length (llm/sampling.py weighted_sample_grouped): the
    training-mixture primitive ("upweight curated sources but cap each
    source's contribution, chosen by quality weight") as one
    partitioned window — a single shuffle on the stratum key, O(k)
    survivors per group, no global sort. The A-Res priority is the
    same md5-derived pure per-row function as the global sampler, so
    membership is rerun-stable, auditable per row, and per-shard
    per-group top-k tables merge exactly (the weighted_sample_merge
    theorem applied within each group). Oracle replays priority and
    rank verbatim."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents").where(F.col("source").isNotNull())
    return llm_sampling.weighted_sample_grouped(
        d.select("source", "doc_id", "n_chars"),
        "source",
        "doc_id",
        "n_chars",
        16,
    ).select("source", "doc_id", "n_chars", "priority")


# ----------------------------------------------------------------------
# KMV / theta distinct sketches (EXT-sketch-kmv; round 10) — the set
# algebra HLL cannot do: intersection / Jaccard / semi-join-cardinality
# estimation from O(k) state (operators/kmv.py).
# ----------------------------------------------------------------------

@spec(
    "kmv_distinct_users",
    "EXT-sketch-kmv A3",
    oracle=op_kmv.kmv_oracle_sql("events", "user_id", 64),
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-user estimate (k=64) beside the exact
    count — the third distinct-count scale path (exact salted,
    HLL registers, now KMV bottom-k). Unlike HLL, the KMV sketch
    retains a uniform key SAMPLE, so the same O(k) state also answers
    intersections (kmv_semijoin_cardinality). Plan: hash projection →
    per-partition Arrow bottom-k (map-only, O(k) state, raw keys never
    shuffle) → distinct + ordered limit over ≤ partitions·k survivors.
    The md5-portable hash makes the retained set, the k-th order
    statistic, and the estimate's exact value — error included —
    DuckDB-replayable (operators/kmv.py kmv_oracle_sql)."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    sk = op_kmv.kmv_sketch(ev, "user_id", 64)
    exact = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return op_kmv.kmv_estimate(sk, 64).crossJoin(exact)


@spec(
    "kmv_distinct_users_by_type",
    "EXT-sketch-kmv A3 A2",
    oracle=op_kmv.kmv_grouped_oracle_sql("events", "event_type", "user_id", 32),
)
def kmv_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED KMV — one bottom-k sketch per event type from ONE scan
    (operators/kmv.py kmv_sketch_grouped): the grouped Arrow kernel
    keeps an O(k) state per group per partition, so the exchange
    carries ≤ partitions·groups·k partial-sketch rows instead of every
    distinct (type, user) pair; the per-group row_number cap runs over
    that partial-sketch table, never the data. Completes the
    grouped-sketch grid (HLL/CMS/Bloom/quantiles/MG) with the one
    sketch whose per-group state is a mergeable key sample. Each
    group's estimate and exact witness replay in the oracle."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    sk = op_kmv.kmv_sketch_grouped(ev, "event_type", "user_id", 32)
    exact = (
        ev.where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").cast("string").alias("g"))
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return op_kmv.kmv_estimate_grouped(sk, 32).join(exact, "g")


@spec(
    "kmv_union_merge",
    "EXT-sketch-kmv EXT-sketch-merge",
    oracle=op_kmv.kmv_union_merge_oracle_sql(
        "events", "user_id", "event_id % 2 = 0", 64
    ),
)
def kmv_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV MERGEABILITY — bottom-k is a mergeable summary: the bottom-k
    of a union depends only on the union's k smallest distinct hashes,
    every one of which each side retained, so merging two half-sketches
    (operators/kmv.py kmv_merge) yields EXACTLY the directly-built
    sketch — ``merge_consistent`` is an exact set identity, not a
    tolerance. This is what lets per-day / per-dataset / per-partition
    KMV sketches roll up without rescanning — the same contract the
    HLL/CMS/Bloom/MG merge gates pin for their families. Both
    estimates, the identity witness, and the exact union count replay
    in the oracle."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    half = F.col("event_id") % 2 == 0
    sa = op_kmv.kmv_sketch(ev.filter(half), "user_id", 64)
    sb = op_kmv.kmv_sketch(ev.filter(~half), "user_id", 64)
    merged = op_kmv.kmv_merge(sa, sb, 64).localCheckpoint(eager=True)
    direct = op_kmv.kmv_sketch(ev, "user_id", 64).localCheckpoint(eager=True)
    est_m = op_kmv.kmv_estimate(merged, 64).select(
        F.col("estimate").alias("est_merged"), "sketch_size"
    )
    est_d = op_kmv.kmv_estimate(direct, 64).select(
        F.col("estimate").alias("est_direct")
    )
    cmp = (
        merged.join(direct, "h")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .crossJoin(merged.agg(F.count(F.lit(1)).alias("nm")))
        .crossJoin(direct.agg(F.count(F.lit(1)).alias("nd")))
        .select(
            (
                (F.col("n_common") == F.col("nm"))
                & (F.col("n_common") == F.col("nd"))
            ).alias("merge_consistent")
        )
    )
    exact = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        est_m.crossJoin(est_d)
        .crossJoin(cmp)
        .crossJoin(exact)
        .select(
            "est_merged", "est_direct", "sketch_size",
            "merge_consistent", "exact_distinct",
        )
    )


@spec(
    "kmv_semijoin_cardinality",
    "EXT-sketch-kmv J10 A3",
    oracle=op_kmv.kmv_setops_oracle_sql(
        "customer", "c_custkey", "orders", "o_custkey", 128
    ),
)
def kmv_semijoin_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA SET OPERATIONS — the estimate HLL structurally cannot
    produce: how many customer keys also appear in orders (the
    semi-join / decontamination-overlap cardinality), from two O(k)
    sketches and NO join of the base tables. Under the shared
    threshold θ = min(θ_a, θ_b), every retained hash < θ is a uniform
    sample of the key-space union, so |sample ∩| · 2^60 / θ estimates
    the intersection and the sample ratio estimates Jaccard (Beyer et
    al. 2007). All arithmetic on the two k-row sketch tables; the θ
    scalar broadcasts as a 1-row frame. Estimates, sample sizes, and
    the exact intersection/union witnesses all replay in the oracle."""
    ensure_utc(spark)
    k = 128
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    sa = op_kmv.kmv_sketch(cust, "c_custkey", k).localCheckpoint(eager=True)
    sb = op_kmv.kmv_sketch(orders, "o_custkey", k).localCheckpoint(eager=True)
    th = (
        op_kmv.kmv_theta(sa, k)
        .crossJoin(op_kmv.kmv_theta(sb, k).withColumnRenamed("theta", "theta_b"))
        .select(F.least("theta", "theta_b").alias("theta"))
    )
    inter_n = (
        sa.join(sb, "h")
        .crossJoin(th)
        .where(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).cast("long").alias("sample_intersection"))
    )
    union_n = (
        sa.unionByName(sb)
        .distinct()
        .crossJoin(th)
        .where(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).cast("long").alias("sample_union"))
    )
    space = F.lit(op_kmv.KMV_SPACE)
    ests = (
        inter_n.crossJoin(union_n)
        .crossJoin(th)
        .select(
            F.round(
                F.col("sample_intersection").cast("double") * space
                / F.col("theta").cast("double"),
                4,
            ).alias("est_intersection"),
            F.round(
                F.col("sample_union").cast("double") * space
                / F.col("theta").cast("double"),
                4,
            ).alias("est_union"),
            F.round(
                F.col("sample_intersection").cast("double")
                / F.col("sample_union").cast("double"),
                4,
            ).alias("jaccard_est"),
            "sample_intersection",
            "sample_union",
        )
    )
    ca = cust.where(F.col("c_custkey").isNotNull()).select(
        F.col("c_custkey").alias("x")
    ).distinct()
    ob = orders.where(F.col("o_custkey").isNotNull()).select(
        F.col("o_custkey").alias("x")
    ).distinct()
    exact_i = ca.join(ob, "x", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("exact_intersection")
    )
    exact_u = ca.unionByName(ob).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("exact_union")
    )
    return ests.crossJoin(exact_i).crossJoin(exact_u)


@spec(
    "kmv_artifact_fold_roundtrip",
    "EXT-sketch-kmv EXT-artifact EXT-sketch-merge S14 S16",
    oracle=op_kmv.kmv_artifact_oracle_sql(
        "events", "user_id", "event_id % 4 = 0", 64, _ART_CHECK_MOD
    ),
)
def kmv_artifact_fold_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH-ARTIFACT persistence, KMV: the saved artifact is the
    base split's k-row bottom-k hash table; the new batch's sketch
    FOLDS into the RELOADED table by kmv_merge, and because bottom-k
    mergeability is exact, the folded sketch must equal the
    directly-built full sketch hash-for-hash (``fold_consistent`` is a
    set identity). This is the daily 100 TB operation for overlap
    auditing: sketch yesterday's corpus once, persist k rows, fold
    today's batch without rescanning history. Saved-table checksum,
    both estimates, the identity witness, and the exact count all
    replay in the oracle."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves

    k = 64
    ev = _t(spark, sf_dir, "events")
    batch = F.col("event_id") % 4 == 0
    base_sk = op_kmv.kmv_sketch(ev.filter(~batch), "user_id", k)
    ar = Archive(spark, scratch_dir("sg_skart_kmv_"))
    v = ar.save_table("kmv_user_sketch", base_sk)
    loaded = ar.table("kmv_user_sketch")
    folded = op_kmv.kmv_merge(
        loaded, op_kmv.kmv_sketch(ev.filter(batch), "user_id", k), k
    ).localCheckpoint(eager=True)
    direct = op_kmv.kmv_sketch(ev, "user_id", k).localCheckpoint(eager=True)
    est_f = op_kmv.kmv_estimate(folded, k).select(
        F.col("estimate").alias("folded_estimate")
    )
    est_d = op_kmv.kmv_estimate(direct, k).select(
        F.col("estimate").alias("direct_estimate")
    )
    cmp = (
        folded.join(direct, "h")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .crossJoin(folded.agg(F.count(F.lit(1)).alias("nf")))
        .crossJoin(direct.agg(F.count(F.lit(1)).alias("nd")))
        .select(
            (
                (F.col("n_common") == F.col("nf"))
                & (F.col("n_common") == F.col("nd"))
            ).alias("fold_consistent")
        )
    )
    h1, _ = md5_halves(F.col("h").cast("string"))
    art = loaded.agg(
        F.count(F.lit(1)).cast("long").alias("saved_size"),
        F.sum(h1 % F.lit(_ART_CHECK_MOD)).cast("long").alias("saved_checksum"),
    )
    exact = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        art.crossJoin(est_f)
        .crossJoin(est_d)
        .crossJoin(cmp)
        .crossJoin(exact)
        .withColumn("artifact_version", F.lit(v).cast("int"))
    )


# ----------------------------------------------------------------------
# Time-series analytics (EXT-ts-*; round 10): LOCF gap fill, windowed
# exponential smoothing, Markov transitions, grouped OLS trend,
# distribution entropy — the dashboard layer over the events stream.
# ----------------------------------------------------------------------

#: Daily mean via the floor-of-rounded-sum device (incremental_rollup
#: _equiv): the float dust in SUM(value) is squeezed out by ROUND(.,2)
#: BEFORE the division, and FLOOR has no half-way tie to disagree on.
_DAILY_AVG_SQL = "FLOOR(ROUND(SUM(value), 2) / COUNT(*) * 100) / 100.0"


def _daily_avg_col() -> Column:
    return F.floor(
        F.round(F.sum("value"), 2) / F.count(F.lit(1)) * 100
    ) / F.lit(100.0)


@spec(
    "event_value_locf",
    "EXT-ts-gapfill EXT-gapfill W2 A2",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(*) AS n, {_DAILY_AVG_SQL} AS avg_v
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    cal AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM bounds
    ),
    spine AS (
      SELECT t.event_type, cal.day
      FROM (SELECT DISTINCT event_type FROM d) t, cal
    )
    SELECT s.event_type, s.day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
           last_value(d.avg_v IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_avg,
           (d.n IS NULL) AS is_gap
    FROM spine s LEFT JOIN d ON s.event_type = d.event_type
                            AND s.day = d.day
    """,
)
def event_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap fill — the VALUE
    interpolation twin of daily_event_counts_dense's zero-filled
    counts: per event type, the daily mean value on a GENERATED dense
    calendar spine (dim-types × days — never a stored calendar scan),
    missing days forward-filled by ``last(..., ignorenulls)`` over the
    per-type window. This is the op that makes downstream
    moving-window statistics correct across silent days. Plan: one
    groupBy shuffle (type, day), a broadcast spine join, and a
    dim-partitioned window over O(types × days) aggregated rows — no
    fact-row funnel. The floor-of-rounded-sum daily mean replays
    exactly in the oracle; leading gaps before a type's first
    observation stay NULL by definition in both engines."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.where(F.col("event_type").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _daily_avg_col().alias("avg_v"),
        )
    )
    cal = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    spine = d.select("event_type").distinct().crossJoin(cal)
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(d, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.last("avg_v", ignorenulls=True).over(w).alias("filled_avg"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


#: Windowed exponential smoothing: 8 dyadic weights 2^-j. The weights
#: and the per-day means are fixed-expression arithmetic (not an
#: unordered aggregate), so both engines evaluate the identical tree.
_EWMA_TERMS = 8


def _ewma_sql() -> str:
    num = " + ".join(
        f"COALESCE({0.5 ** j!r} * lag(avg_v, {j}) OVER w, 0.0)"
        for j in range(_EWMA_TERMS)
    )
    den = " + ".join(
        f"(CASE WHEN lag(avg_v, {j}) OVER w IS NULL THEN 0.0"
        f" ELSE {0.5 ** j!r} END)"
        for j in range(_EWMA_TERMS)
    )
    return f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_DAILY_AVG_SQL} AS avg_v
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, day, avg_v,
           ROUND(({num}) / ({den}), 4) AS ewma
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """


@spec("event_value_ewma", "EXT-ts-ewma W2 A2", oracle=_ewma_sql())
def event_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed exponential smoothing (EWMA, α=1/2, 8 terms) of the
    per-type daily mean — the trend line a monitoring dashboard draws.
    A recursive EWMA needs 2^t reciprocal weights (overflow) or a
    sequential scan (not distributed); the FINITE form Σ 2^-j·x_(t-j)
    / Σ 2^-j truncates below 2^-8 ≈ 0.4% weight and becomes 8 lag()
    terms over one dim-partitioned window — distributed, exact, and
    engine-neutral: the weights are dyadic (exact doubles), the means
    are the floor-device values, and the sum is a FIXED left-to-right
    expression tree, identical in both engines, so ROUND(.,4) is
    hash-stable. One (type, day) aggregate shuffle + one dim window."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.where(F.col("event_type").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(_daily_avg_col().alias("avg_v"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(_EWMA_TERMS):
        lagged = F.lag("avg_v", j).over(w)
        num = num + F.coalesce(F.lit(0.5 ** j) * lagged, F.lit(0.0))
        den = den + F.when(lagged.isNull(), F.lit(0.0)).otherwise(
            F.lit(0.5 ** j)
        )
    return d.select(
        "event_type", "day", "avg_v", F.round(num / den, 4).alias("ewma")
    )


@spec(
    "event_type_transitions",
    "EXT-ts-markov W1 A2",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events WHERE user_id IS NOT NULL
    ),
    t AS (
      SELECT prev_type, event_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, event_type, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 4)
             AS prob
    FROM t
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types — the
    sequence model behind funnel diagnostics ("what follows a view?").
    One user-keyed window (lag over (ts, event_id) total order — the
    sessionized_events shuffle, reusable), one (prev, cur) aggregate
    whose output is |types|² rows, and a dim-sized window turning
    counts into row-stochastic probabilities. Ratios of exact integers
    → ROUND(.,4) is engine-stable. At 100 TB this is one fact shuffle
    on user_id + one types²-row table."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.where(F.col("user_id").isNotNull())
        .select(
            F.lag("event_type").over(wseq).alias("prev_type"), "event_type"
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wrow = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "event_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wrow).cast("double"),
            4,
        ).alias("prob"),
    )


@spec(
    "event_ols_trend",
    "EXT-ts-regression A8",
    oracle="""
    WITH q AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(ROUND(value * 1000) AS BIGINT) AS yq
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(yq) AS sy,
             SUM(x * x) AS sxx, SUM(x * yq) AS sxy, SUM(yq * yq) AS syy
      FROM q GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / 1000.0, 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 1000.0, 4) AS intercept,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 6) AS r2
    FROM s
    """,
)
def event_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped least-squares trend (slope / intercept / R²) of event
    value over time, per type — regr_slope & co. re-derived from
    INTEGER sufficient statistics so the oracle hash-matches: y is
    milli-quantized to exact int64 (the integer micro-log device of
    the LM gates), x is a small day offset, so n/Σx/Σy/Σxx/Σxy/Σyy are
    all EXACT integers (order-free — no float-accumulation drift);
    the final slope arithmetic is a fixed expression tree both engines
    evaluate identically. One map-side-combining aggregate, output =
    one row per type. At petabyte scale the Σx·y terms move to
    DECIMAL(38,0) or per-day pre-aggregation; the plan shape stays."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    q = ev.where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("x"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("yq"),
    )
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("yq")).alias("sxy"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, sxyd = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    num = nd * sxyd - sxd * syd
    dx = nd * sxxd - sxd * sxd
    dy = nd * syyd - syd * syd
    return s.select(
        "event_type",
        "n",
        F.round(num / dx / F.lit(1000.0), 6).alias("slope"),
        F.round(
            (syd - num / dx * sxd) / nd / F.lit(1000.0), 4
        ).alias("intercept"),
        F.round(num * num / dx / dy, 6).alias("r2"),
    )


@spec(
    "event_type_entropy",
    "EXT-ts-entropy A2 A1",
    oracle="""
    WITH c AS (
      SELECT event_type, COUNT(*) AS n FROM events
      WHERE event_type IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_types FROM c)
    SELECT CAST(tot.total AS BIGINT) AS n_total,
           CAST(tot.n_types AS BIGINT) AS n_types,
           ROUND(-SUM((CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                      * ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))), 4)
             AS entropy,
           ROUND(-SUM((CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                      * ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)))
                 / ln(CAST(tot.n_types AS DOUBLE)), 4) AS norm_entropy,
           ROUND(1.0 - CAST(SUM(n * n) AS DOUBLE)
                 / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 4)
             AS gini
    FROM c, tot
    GROUP BY tot.total, tot.n_types
    """,
)
def event_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution health of the event-type mix: Shannon entropy (raw
    + normalized by ln|types|) and Gini impurity — the source-mix
    diagnostic a corpus-curation dashboard tracks per snapshot. One
    count aggregate (dim-sized output) + a 1-row total broadcast; the
    Gini term Σn² is an EXACT integer sum (order-free), entropy's
    5-term float sum rounds at 4dp. O(types) state at any volume."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.where(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = c.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("n").cast("double") / F.col("total").cast("double")
    return (
        c.crossJoin(tot)
        .groupBy("total", "n_types")
        .agg(
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
            F.round(
                -F.sum(p * F.log(p)) / F.log(F.col("n_types").cast("double")),
                4,
            ).alias("norm_entropy"),
            F.round(
                F.lit(1.0)
                - F.sum(F.col("n") * F.col("n")).cast("double")
                / (F.col("total").cast("double") * F.col("total").cast("double")),
                4,
            ).alias("gini"),
        )
        .select(
            F.col("total").cast("long").alias("n_total"),
            F.col("n_types").cast("long").alias("n_types"),
            "entropy",
            "norm_entropy",
            "gini",
        )
    )


# ----------------------------------------------------------------------
# Skyline + Hilbert layout (EXT-skyline, EXT-hilbert; round 10)
# ----------------------------------------------------------------------

@spec(
    "pareto_frontier_parts",
    "EXT-skyline J9 A5",
    oracle=op_skyline.pareto_oracle_sql(
        "part",
        "p.p_partkey AS p_partkey, p.p_retailprice AS p_retailprice, "
        "p.p_size AS p_size",
        "p_retailprice",
        "p_size",
    ),
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline): parts where no other part is both
    cheaper-or-equal AND larger-or-equal (strict somewhere) — "best
    price for the size". The naive answer is a quadratic NOT-EXISTS
    self-join; operators/skyline.py prunes with a 64-bucket running-max
    threshold table (broadcast, provably-dominated rows drop map-side)
    and runs the exact dominance join only among the frontier-superset
    survivors — the Misra-Gries candidates-then-recount shape applied
    to dominance. The oracle replays the NAIVE definition, so the gate
    proves the optimized plan ≡ textbook semantics."""
    ensure_utc(spark)
    part = _t(spark, sf_dir, "part")
    return op_skyline.pareto_frontier(
        part.select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice",
        "p_size",
    )


@spec(
    "hilbert_curve_keys",
    "EXT-hilbert EXT-zorder",
    oracle=hilbert_oracle_sql(
        "orders", "o_orderkey", ["o_totalprice", "o_custkey"], bits=8
    ),
)
def hilbert_curve_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout key over (o_totalprice, o_custkey) — the
    locality-tighter sibling of zorder_curve_keys (every curve step is
    grid distance 1, so file bounding boxes are tighter than the
    Z-curve's diagonal jumps; the option lakehouse OPTIMIZE offers
    beside Z-order). operators/layout.py hilbert_keyed: same min-max
    floor normalization, then the per-level quadrant+rotate fold
    unrolled to 8 chained projections — pure CASE/shift/mask codegen,
    no UDF, expression tree linear in bits. The oracle replays the
    identical CTE chain, and tests/test_layout.py checks bijectivity +
    unit-step adjacency against an independent reference."""
    ensure_utc(spark)
    o = _t(spark, sf_dir, "orders")
    return hilbert_keyed(
        o.select("o_orderkey", "o_totalprice", "o_custkey"),
        ["o_totalprice", "o_custkey"],
        bits=8,
    ).select("o_orderkey", "hkey")


@spec(
    "stream_kmv_distinct_users",
    "EXT-sketch-kmv EXT-stream-agg T5",
    oracle=(
        "SELECT o.*, TRUE AS stream_consistent FROM ("
        + op_kmv.kmv_oracle_sql("events", "user_id", 64)
        + ") o"
    ),
)
def stream_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV maintained INCREMENTALLY over a stream (streaming/kmv.py
    run_kmv_stream) — the KMV member of the streaming-sketch family
    beside stream_hll/cms/bloom/histogram and the streaming MG: the
    events replay as a file stream in MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over a 4-file staging write); each batch is
    sketched with the batch kernel and FOLDS into a versioned bottom-k
    table by kmv_merge inside foreachBatch — O(k) state forever vs
    O(distinct keys) for exact streaming distinct. Bottom-k
    mergeability is exact, so the drained sketch must equal the
    one-shot batch sketch hash-for-hash for ANY micro-batch layout —
    the gate emits the drained estimate beside the engine-side
    sym-diff witness and shares the batch gate's oracle verbatim."""
    from .streaming.kmv import run_kmv_stream

    ensure_utc(spark)
    k = 64
    ev = _t(spark, sf_dir, "events")
    table_root = scratch_dir("sg_kmvs_tbl_")
    with staged_stream(ev.select("user_id"), 4) as (updates, ckpt):
        drained = run_kmv_stream(
            updates, "user_id", k, table_root, ckpt
        ).localCheckpoint(eager=True)
    direct = op_kmv.kmv_sketch(ev, "user_id", k)
    diff = (
        _msdiff_rows(drained, direct)
        .agg((F.count(F.lit(1)) == 0).alias("stream_consistent"))
    )
    exact = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        op_kmv.kmv_estimate(drained, k)
        .crossJoin(exact)
        .crossJoin(diff)
    )


@spec(
    "kmv_rollup_merge",
    "EXT-sketch-kmv EXT-sketch-merge A2",
    oracle=f"""
    WITH {op_kmv.kmv_bottomk_cte("direct", "events", "user_id", "event_type IS NOT NULL", 64)},
    st AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM direct)
    SELECT {op_kmv._est_sql("n", "kth", 64)} AS est_rollup,
           {op_kmv._est_sql("n", "kth", 64)} AS est_direct,
           TRUE AS rollup_consistent,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
             AS exact_distinct
    FROM st
    """,
)
def kmv_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMENSION ROLLUP over grouped sketches — the cube operation a
    sketch store exists for: the per-event-type KMV sketches
    (kmv_sketch_grouped, one scan) collapse into the global sketch by
    dropping the group key and re-capping, and the result must equal
    the directly-built global sketch hash-for-hash: any hash in the
    global bottom-k is in its own group's bottom-k, so the group-wise
    retention loses nothing (the mergeability identity applied across
    a dimension instead of across batches). This is why a 100 TB store
    keeps only leaf-grain sketches: every coarser grain derives by
    merge, never by rescan. The engine computes BOTH paths and the
    sym-diff witness; the oracle replays the (provably identical)
    direct sketch for both estimate columns."""
    ensure_utc(spark)
    k = 64
    ev = _t(spark, sf_dir, "events")
    grouped = op_kmv.kmv_sketch_grouped(ev, "event_type", "user_id", k)
    rollup = (
        grouped.select("h").distinct().orderBy("h").limit(k)
    ).localCheckpoint(eager=True)
    direct = op_kmv.kmv_sketch(
        ev.where(F.col("event_type").isNotNull()), "user_id", k
    ).localCheckpoint(eager=True)
    diff = (
        _msdiff_rows(rollup, direct)
        .agg((F.count(F.lit(1)) == 0).alias("rollup_consistent"))
    )
    est_r = op_kmv.kmv_estimate(rollup, k).select(
        F.col("estimate").alias("est_rollup")
    )
    est_d = op_kmv.kmv_estimate(direct, k).select(
        F.col("estimate").alias("est_direct")
    )
    exact = ev.where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return (
        est_r.crossJoin(est_d)
        .crossJoin(diff)
        .crossJoin(exact)
        .select("est_rollup", "est_direct", "rollup_consistent", "exact_distinct")
    )


def _benford_expected_sql() -> str:
    import math

    cases = " ".join(
        f"WHEN digit = {d} THEN CAST({math.log10(1.0 + 1.0 / d)!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    return f"CASE {cases} END"


@spec(
    "benford_price_digits",
    "EXT-quality-benford A2",
    oracle=f"""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             COUNT(*) AS n
      FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
      GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS observed_p,
           {_benford_expected_sql()} AS expected_p,
           ROUND(ABS(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                     - ({_benford_expected_sql()})), 6) AS abs_dev
    FROM c, tot
    """,
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic
    synthetic-data / fraud screen a data-quality layer runs per
    snapshot. The first significant digit comes from the INTEGER cents
    string (never floor(log10(x)) — a last-ulp libm disagreement at a
    power of ten would flip the digit between engines; int→string is
    byte-identical everywhere), the expected Benford mass is a
    Python-computed double literal baked into BOTH plans (zero libm
    involvement), and observed shares are ratios of exact counts. One
    9-row aggregate + a 1-row total broadcast; O(9) state at any
    volume."""
    import math

    ensure_utc(spark)
    o = _t(spark, sf_dir, "orders")
    c = (
        o.where(F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0))
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("long")
                .cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = c.agg(F.sum("n").alias("total"))
    ex = None
    for d in range(1, 10):
        branch = F.lit(math.log10(1.0 + 1.0 / d))
        ex = (
            F.when(F.col("digit") == d, branch)
            if ex is None
            else ex.when(F.col("digit") == d, branch)
        )
    obs = F.col("n").cast("double") / F.col("total").cast("double")
    return c.crossJoin(tot).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_p"),
        ex.alias("expected_p"),
        F.round(F.abs(obs - ex), 6).alias("abs_dev"),
    )


@spec(
    "trigram_search_docs",
    "EXT-search-trigram P5",
    oracle="SELECT doc_id FROM documents WHERE text LIKE '%slow vector%'",
)
def trigram_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search through a TRIGRAM POSTING INDEX
    (operators/search_index.py — the pg_trgm / code-search device):
    the literal's 3-grams intersect posting lists to a candidate
    superset (any doc containing the literal contains all its
    trigrams), then an exact ``contains`` verify — the
    candidate-then-recheck shape applied to the one query no layout
    trick saves (`LIKE '%...%'` full scans every byte at 100 TB; the
    posting semi-join touches only the query's grams). The oracle
    replays the NAIVE LIKE definition, so the gate proves index+verify
    ≡ scan semantics. In production the posting table persists through
    the archive and folds per ingest batch; here it builds in-plan
    (one explode+distinct shuffle, pure transform/sequence codegen)."""
    ensure_utc(spark)
    from .operators.search_index import trigram_search

    d = _t(spark, sf_dir, "documents")
    return trigram_search(d, "doc_id", "text", "slow vector")


@spec(
    "near_dup_triangles",
    "EXT-triangles EXT-concomp A1",
    oracle="WITH RECURSIVE " + _JACCARD_EDGE_CTES + r"""
    ,
    dg AS (
      SELECT x, COUNT(*) AS d FROM (
        SELECT doc_a AS x FROM jp UNION ALL SELECT doc_b AS x FROM jp
      ) GROUP BY x
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM jp e1
      JOIN jp e2 ON e2.doc_a = e1.doc_b
      JOIN jp e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    wd AS (SELECT SUM(d * (d - 1)) AS w2 FROM dg)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM jp) AS n_edges,
           CAST(t AS BIGINT) AS n_triangles,
           CAST(w2 AS BIGINT) AS wedge2,
           CASE WHEN w2 > 0
                THEN ROUND(6.0 * t / CAST(w2 AS DOUBLE), 6) END AS global_cc
    FROM tri, wd
    """,
)
def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the near-dup
    graph (llm/cluster.py triangle_stats) — the density diagnostic
    completing the graph family (CC collapses, PageRank ranks, LPA
    partitions, this MEASURES clique-ness: template families close
    their wedges, chance collisions don't). Engine counts via the
    degree-ordered orientation (Suri-Vassilvitskii: out-degrees capped
    at O(√m), so the wedge join survives hub skew); the count is
    orientation-INVARIANT, so the oracle's canonical a<b<c three-way
    join must agree exactly — the gate proves the skew-safe plan ≡
    textbook definition. Same edge set as the CC/stream-CC gates
    (3-gram Jaccard ≥ 0.4 pairs, SQL-replayed)."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    pairs = llm_dedup.jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.4)
    return llm_cluster.triangle_stats(pairs, "doc_a", "doc_b")


@spec(
    "event_value_cusum",
    "EXT-ts-cusum W2 A2",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_DAILY_AVG_SQL} AS avg_v
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, day, avg_v,
             CAST(ROUND(avg_v * 100) AS BIGINT) AS cents
      FROM d
    ),
    w AS (
      SELECT event_type, day, avg_v,
             SUM(cents) OVER (PARTITION BY event_type ORDER BY day) AS run,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS idx,
             SUM(cents) OVER (PARTITION BY event_type) AS s,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_type, day, avg_v,
           ROUND(CAST(n * run - idx * s AS DOUBLE)
                 / CAST(100 * n AS DOUBLE), 4) AS cusum
    FROM w
    """,
)
def event_value_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistic per event type — the monitoring
    primitive that flags level shifts a moving average smooths over:
    the running sum of deviations from the type's mean daily value.
    The whole statistic is EXACT-INTEGER until one final division:
    daily means are the 2-dec floor-device values, so 100·avg is an
    exact int; cusum_t = Σ_{{i≤t}}(x_i − μ) rewrites as
    (n·run_t − t·s)/(100·n) with run/s/n exact integer window sums —
    no float accumulation anywhere, both engines agree to the bit
    before the 4dp round. One (type, day) aggregate + one
    dim-partitioned window; O(types × days) output at any volume."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.where(F.col("event_type").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(_daily_avg_col().alias("avg_v"))
        .withColumn(
            "cents", F.round(F.col("avg_v") * 100, 0).cast("long")
        )
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("day")
    run = F.sum("cents").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    idx = F.row_number().over(wo)
    s = F.sum("cents").over(wp)
    n = F.count(F.lit(1)).over(wp)
    return d.select(
        "event_type",
        "day",
        "avg_v",
        F.round(
            (n * run - idx * s).cast("double") / (F.lit(100) * n).cast("double"),
            4,
        ).alias("cusum"),
    )


@spec(
    "kmv_antijoin_cardinality",
    "EXT-sketch-kmv J9 A3",
    oracle=f"""
    WITH {op_kmv.kmv_bottomk_cte("bka", "customer", "c_custkey", "", 128)},
    {op_kmv.kmv_bottomk_cte("bkb", "orders", "o_custkey", "", 128)},
    sta AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM bka),
    stb AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM bkb),
    th AS (
      SELECT LEAST((SELECT {op_kmv._theta_sql("n", "kth", 128)} FROM sta),
                   (SELECT {op_kmv._theta_sql("n", "kth", 128)} FROM stb))
               AS theta
    ),
    dif AS (
      SELECT COUNT(*) AS n FROM bka a, th
      WHERE a.h < th.theta
        AND NOT EXISTS (SELECT 1 FROM bkb b WHERE b.h = a.h)
    )
    SELECT ROUND(CAST(dif.n AS DOUBLE) * CAST({op_kmv.KMV_SPACE!r} AS DOUBLE)
                 / CAST(th.theta AS DOUBLE), 4) AS est_difference,
           CAST(dif.n AS BIGINT) AS sample_difference,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (
              SELECT DISTINCT c_custkey AS x FROM customer
              WHERE c_custkey IS NOT NULL
              EXCEPT
              SELECT DISTINCT o_custkey AS x FROM orders
              WHERE o_custkey IS NOT NULL)) AS exact_difference,
           (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer
            WHERE c_custkey IS NOT NULL) AS exact_total_a
    FROM dif, th
    """,
)
def kmv_antijoin_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA SET DIFFERENCE — the anti-join cardinality ("customers
    with NO orders", the J9 classic) estimated from two O(k) sketches
    and no join of the base tables, completing the KMV set algebra
    (union + intersection in kmv_semijoin_cardinality; difference
    here). Soundness: every hash below θ = min(θ_a, θ_b) is retained
    by BOTH sketches if its key is in both sets, so "in S_a under θ
    but absent from S_b" decides key ∉ B exactly over the uniform
    sub-θ sample; |sample|·2^60/θ estimates |A∖B|. The exact anti-join
    count rides along as the witness."""
    ensure_utc(spark)
    k = 128
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    sa = op_kmv.kmv_sketch(cust, "c_custkey", k).localCheckpoint(eager=True)
    sb = op_kmv.kmv_sketch(orders, "o_custkey", k).localCheckpoint(eager=True)
    th = (
        op_kmv.kmv_theta(sa, k)
        .crossJoin(op_kmv.kmv_theta(sb, k).withColumnRenamed("theta", "theta_b"))
        .select(F.least("theta", "theta_b").alias("theta"))
    )
    dif = (
        sa.crossJoin(th)
        .where(F.col("h") < F.col("theta"))
        .join(sb, "h", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("sample_difference"))
    )
    est = dif.crossJoin(th).select(
        F.round(
            F.col("sample_difference").cast("double")
            * F.lit(op_kmv.KMV_SPACE)
            / F.col("theta").cast("double"),
            4,
        ).alias("est_difference"),
        "sample_difference",
    )
    ca = cust.where(F.col("c_custkey").isNotNull()).select(
        F.col("c_custkey").alias("x")
    ).distinct()
    ob = orders.where(F.col("o_custkey").isNotNull()).select(
        F.col("o_custkey").alias("x")
    ).distinct()
    exact_d = ca.join(ob, "x", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("exact_difference")
    )
    exact_a = ca.agg(F.count(F.lit(1)).cast("long").alias("exact_total_a"))
    return est.crossJoin(exact_d).crossJoin(exact_a)


@spec(
    "trigram_index_artifact_roundtrip",
    "EXT-search-trigram EXT-artifact S14 S16",
    oracle=f"""
    WITH base AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, length(text) - 2),
                      i -> substr(text, i, 3))) AS gram
        FROM documents
        WHERE text IS NOT NULL AND length(text) >= 3
          AND NOT (doc_id % 4 = 0)
      )
    ),
    art AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS saved_postings,
             CAST(SUM(('0x' || substr(md5(gram || ':' ||
                        CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                      % {_ART_CHECK_MOD}) AS BIGINT) AS saved_checksum
      FROM base
    )
    SELECT art.saved_postings, art.saved_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE text LIKE '%slow vector%') AS n_matches,
           TRUE AS fold_consistent,
           CAST(1 AS INT) AS artifact_version
    FROM art
    """,
)
def trigram_index_artifact_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEARCH-INDEX persistence — the artifact story applied to the
    trigram posting table (tokenizers, LM models, IVF/PQ, sketches, MG
    and the LSH band store all roundtrip through the archive; the
    search index was the one index family without a persisted
    artifact): the base split's postings commit through the versioned
    archive, reload, and the new batch's postings FOLD in by
    distinct-union (set union is associative — the folded table must
    equal the directly-built full posting table row-for-row,
    ``fold_consistent`` exact). A search for 'slow vector' through the
    FOLDED index must then match the naive LIKE over the full corpus —
    index maintenance proven equivalent to rebuild, which is the daily
    ingest path of a 100 TB code/doc-search store. Saved-table
    checksum, posting count, match count all replay in the oracle."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves
    from .operators.search_index import trigram_postings

    d = _t(spark, sf_dir, "documents")
    batch = F.col("doc_id") % 4 == 0
    base_p = trigram_postings(d.filter(~batch), "doc_id", "text")
    ar = Archive(spark, scratch_dir("sg_trgidx_"))
    v = ar.save_table("trigram_postings", base_p)
    loaded = ar.table("trigram_postings")
    # distinct-union fold WITHOUT the distinct: trigram_postings is
    # internally (id, gram)-distinct and the base/batch doc_id splits
    # are key-disjoint, so their union is already a set — the explicit
    # distinct() was a redundant full-posting-table exchange (r13 opt:
    # one Exchange + HashAggregate removed; folded ≡ distinct(union)
    # row-for-row, and the fold_consistent witness still proves it
    # against the direct build)
    folded = (
        loaded.unionByName(trigram_postings(d.filter(batch), "doc_id", "text"))
        .localCheckpoint(eager=True)
    )
    direct = trigram_postings(d, "doc_id", "text")
    diff = (
        _msdiff_rows(folded, direct)
        .agg((F.count(F.lit(1)) == 0).alias("fold_consistent"))
    )
    literal = "slow vector"
    qgrams = sorted({literal[i : i + 3] for i in range(len(literal) - 2)})
    cand = (
        folded.where(F.col("gram").isin(qgrams))
        .groupBy("id")
        .agg(F.countDistinct("gram").alias("ng"))
        .where(F.col("ng") == len(qgrams))
        .select("id")
    )
    matches = (
        d.join(cand, F.col("doc_id") == F.col("id"), "left_semi")
        .where(F.contains(F.col("text"), F.lit(literal)))
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )
    h1, _ = md5_halves(
        F.concat_ws(":", F.col("gram"), F.col("id").cast("string"))
    )
    art = loaded.agg(
        F.count(F.lit(1)).cast("long").alias("saved_postings"),
        F.sum(h1 % F.lit(_ART_CHECK_MOD)).cast("long").alias("saved_checksum"),
    )
    return (
        art.crossJoin(matches)
        .crossJoin(diff)
        .select("saved_postings", "saved_checksum", "n_matches",
                "fold_consistent")
        .withColumn("artifact_version", F.lit(v).cast("int"))
    )


@spec(
    "bm25_search_scores",
    "EXT-search-bm25 LLM-text A2 O7",
    oracle=f"""
    WITH {_TOK_CTE},
    dln AS (SELECT doc_id, len(t) AS dl FROM tok),
    gs AS (SELECT COUNT(*) AS n, SUM(dl) AS s FROM dln),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(t) AS w FROM tok
      ) WHERE w IN ('vector', 'merge') GROUP BY doc_id, w
    ),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY w),
    sc AS (
      SELECT tf.doc_id,
             ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                / (CAST(df AS DOUBLE) + 0.5) + 1.0)
             * (CAST(tf AS DOUBLE) * 2.2)
             / (CAST(tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(dln.dl AS DOUBLE)
                         * CAST(n AS DOUBLE) / CAST(s AS DOUBLE)))
               AS t_score
      FROM tf JOIN df USING (w) JOIN dln ON dln.doc_id = tf.doc_id, gs
    ),
    agg AS (SELECT doc_id, SUM(t_score) AS score FROM sc GROUP BY doc_id)
    SELECT a.doc_id, ROUND(a.score, 6) AS bm25,
           CAST(dln.dl AS BIGINT) AS dl
    FROM agg a JOIN dln ON dln.doc_id = a.doc_id
    ORDER BY a.score DESC, a.doc_id LIMIT 20
    """,
)
def bm25_search_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones; the Lucene/ES
    default) for the 2-term query {{vector, merge}} — the RELEVANCE
    layer over the search family (trigram index finds candidates; this
    ranks them), and the classic curation scorer for query-targeted
    corpus slices. Every input is an exact integer (tf, df, dl, N,
    Σdl); idf and the length normalization are FIXED expression trees
    over those integers (dl/avgdl computed as dl·N/Σdl — no
    intermediate float aggregate), and the per-doc score sums ≤2
    per-term scores (one commutative addition), so both engines
    produce bit-identical doubles — the top-20 selection (score desc,
    doc_id tie-break) is therefore deterministic BEFORE the 6dp round.
    Plan: one token-explode aggregate pruned to the query terms, a
    2-row df broadcast, a doc-length join, TakeOrdered head."""
    ensure_utc(spark)
    terms = ["vector", "merge"]
    k1, b = 1.2, 0.75
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(llm_text.tokens("text")).alias("w"))
    dln = d.select("doc_id", llm_text.token_count("text").alias("dl"))
    gs = dln.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    )
    tf = (
        toks.where(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    tfd = F.col("tf").cast("double")
    dfd = F.col("df").cast("double")
    dld = F.col("dl").cast("double")
    idf = F.log((nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)) + F.lit(1.0))
    t_score = (
        idf
        * (tfd * F.lit(k1 + 1.0))
        / (tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dld * nd / sd))
    )
    sc = (
        tf.join(F.broadcast(df), "w")
        .join(dln, "doc_id")
        .crossJoin(gs)
        .select("doc_id", t_score.alias("t_score"))
    )
    agg = sc.groupBy("doc_id").agg(F.sum("t_score").alias("score"))
    return (
        agg.join(dln, "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            F.round("score", 6).alias("bm25"),
            F.col("dl").cast("long").alias("dl"),
        )
    )


@spec(
    "node_clustering_coefficients",
    "EXT-triangles A2",
    oracle="WITH RECURSIVE " + _JACCARD_EDGE_CTES + r"""
    ,
    dg AS (
      SELECT x, COUNT(*) AS d FROM (
        SELECT doc_a AS x FROM jp UNION ALL SELECT doc_b AS x FROM jp
      ) GROUP BY x
    ),
    tri AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM jp e1
      JOIN jp e2 ON e2.doc_a = e1.doc_b
      JOIN jp e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    tc AS (
      SELECT x, COUNT(*) AS t FROM (
        SELECT a AS x FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY x
    )
    SELECT dg.x AS node, CAST(dg.d AS BIGINT) AS degree,
           CAST(COALESCE(tc.t, 0) AS BIGINT) AS triangles,
           ROUND(CAST(2 * COALESCE(tc.t, 0) AS DOUBLE)
                 / CAST(dg.d * (dg.d - 1) AS DOUBLE), 6) AS lcc
    FROM dg LEFT JOIN tc ON tc.x = dg.x
    WHERE dg.d >= 2
    """,
)
def node_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the near-dup graph
    (llm/cluster.py local_clustering) — the node-grained companion of
    ``near_dup_triangles``: lcc(v) = 2·t_v / (d_v·(d_v−1)) separates
    documents inside template cliques (lcc ≈ 1) from bridge documents
    whose neighborhoods don't know each other (lcc ≈ 0) — the
    precision signal for cluster-collapse decisions. Engine keeps the
    degree-ordered orientation and explodes each triangle's three
    corners once; the oracle recounts per-corner from the canonical
    a<b<c triangle list. Exact-integer counts; lcc rounds at 6dp from
    an exact ratio."""
    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents")
    pairs = llm_dedup.jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.4)
    return llm_cluster.local_clustering(pairs, "doc_a", "doc_b")


def _dhash_oracle_sql() -> str:
    """DuckDB replay of the dHash near-dup gate: regenerate the
    fixture pixels arithmetically (the codec-gate device), replay the
    integer-exact nearest resize index math, the gradient-sign bits,
    the two 32-bit packs, and the banding-free exact pairwise Hamming
    filter (candidate banding is a pruning, not a semantics change)."""

    def v(y: str, x: str) -> str:
        return (
            f"((({y}) * 31 + ({x}) * 7) * (1 + i % 7)) % 251"
            f" + (CASE WHEN i % 2 = 0 AND ({y}) = i % 12"
            f" AND ({x}) = i % 16 THEN 1 ELSE 0 END)"
        )

    sy = "(((2 * r + 1) * 12) // 16)"
    sxc = "(((2 * c + 1) * 16) // 18)"
    sxn = "(((2 * (c + 1) + 1) * 16) // 18)"
    return f"""
    WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 120),
    grid AS (
      SELECT i, rr.r AS r, cc.c AS c
      FROM ids, LATERAL unnest(range(0, 8)) rr(r),
           LATERAL unnest(range(0, 8)) cc(c)
    ),
    b AS (
      SELECT i, r, c,
             CASE WHEN ({v(sy, sxn)}) > ({v(sy, sxc)})
                  THEN 1 ELSE 0 END AS bit
      FROM grid
    ),
    h AS (
      SELECT i,
             CAST(SUM(CASE WHEN r < 4 THEN bit << (r * 8 + c)
                           ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN r >= 4 THEN bit << ((r - 4) * 8 + c)
                           ELSE 0 END) AS BIGINT) AS lo
      FROM b GROUP BY i
    )
    SELECT a.i AS asset_a, b2.i AS asset_b,
           CAST(bit_count(xor(a.hi, b2.hi))
                + bit_count(xor(a.lo, b2.lo)) AS BIGINT) AS hamming
    FROM h a JOIN h b2 ON a.i < b2.i
    WHERE bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)) <= 2
    """


@spec(
    "image_dhash_near_dups",
    "LLM-multimodal EXT-dhash EXT-lsh-index",
    oracle=_dhash_oracle_sql(),
)
def image_dhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection end-to-end — the op that ties the
    multimodal and dedup families together: conforming grayscale PNG
    fixtures (pixel pattern per asset class, half the assets carrying a
    one-pixel perturbation) decode through the REAL codec, dHash
    through the integer-exact nearest resize (llm/multimodal.py
    dhash_bits — gradient-sign bits, the classic perceptual
    fingerprint), and pair up by Hamming ≤ 2 via 16-BIT BANDING
    (pigeonhole: ≤3 flipped bits leave ≥1 of 4 bands identical, the
    MinHash-LSH argument on perceptual bits) + exact popcount verify —
    never all-pairs. The oracle regenerates pixels arithmetically and
    replays resize index math, gradient bits, bit packing, and the
    exact pairwise Hamming filter, so a one-ulp slip anywhere in the
    decode→resize→hash→band→verify chain flips the value hash. Blob
    synthesis is bounded driver scaffolding (120 assets); decode+hash
    run distributed, map-only."""
    ensure_utc(spark)
    import numpy as np

    ids = [
        int(r.doc_id)
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
        .collect()
    ]
    blobs = []
    for i in ids:
        y, x = np.meshgrid(np.arange(12), np.arange(16), indexing="ij")
        base = (((y * 31 + x * 7) * (1 + i % 7)) % 251).astype(np.int64)
        if i % 2 == 0:
            base[i % 12, i % 16] += 1
        blobs.append(
            (
                i,
                bytearray(
                    llm_multimodal.encode_png_pixels(
                        base.astype(np.uint8)[..., None]
                    )
                ),
            )
        )
    media = spark.createDataFrame(
        blobs, "asset_id long, content binary"
    ).repartition(8)
    hashes = llm_multimodal.image_dhash(media).localCheckpoint(eager=True)
    return llm_multimodal.dhash_near_dup_pairs(hashes, max_hamming=2)


@spec(
    "fuzzy_name_pairs",
    "EXT-fuzzy-join P4",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM n a JOIN n b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 1
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join at edit distance ≤ 1 via DELETION-NEIGHBORHOOD
    indexing (the SymSpell device): the naive answer is an O(V²)
    pairwise Levenshtein scan — the fix indexes each distinct name
    under itself plus its |s| one-character-deletion variants, joins
    on shared variants (two strings within one edit ALWAYS share a
    variant: a substitution pair meets at the common deletion, an
    insert/delete pair meets at the shorter string itself), and runs
    exact Levenshtein only on the candidate superset — the
    candidates-then-recheck shape applied to string matching, the
    standard spell-correction/entity-resolution primitive. Variant
    generation is pure transform/sequence codegen; the oracle replays
    the naive definition, proving index+verify ≡ textbook semantics."""
    ensure_utc(spark)
    names = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").isNotNull())
        .select(F.col("p_name").alias("s"))
        .distinct()
    )
    variants = names.select(
        "s",
        F.explode(
            F.expr(
                "transform(sequence(0, length(s)), i -> CASE WHEN i = 0"
                " THEN s ELSE concat(substring(s, 1, i - 1),"
                " substring(s, i + 1, length(s))) END)"
            )
        ).alias("v"),
    ).distinct()
    cand = (
        variants.alias("a")
        .join(
            variants.alias("b"),
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.s") < F.col("b.s")),
        )
        .select(F.col("a.s").alias("name_a"), F.col("b.s").alias("name_b"))
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
    ).where(F.col("dist") <= 1)


@spec(
    "user_status_scd2",
    "EXT-scd2 T3 W1 W2",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
      SELECT user_id, event_type AS status, ts AS valid_from, event_id
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, status, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           (lead(valid_from) OVER w2 IS NULL) AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
)
def user_status_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 dimension build from the event log — the warehouse
    staple the reference's "latest status" query (T3) is a projection
    of: collapse CONSECUTIVE same-status runs (only CHANGES open a
    row), stamp each run [valid_from, valid_to) by the next change's
    timestamp, NULL-open the current row. Two windows over ONE
    user-keyed shuffle (lag to detect changes, lead to close
    intervals — AQE reuses the partitioning); output is
    O(status-changes), not O(events). The standard point-in-time join
    target: ``status AS OF t`` = the row with valid_from ≤ t <
    valid_to (the as-of family's dimension side)."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.where(F.col("user_id").isNotNull()).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    chg = seq.where(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        "event_id",
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w2)
    return chg.select(
        "user_id",
        "status",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@spec(
    "kmv_sliding_distinct_users",
    "EXT-sketch-kmv EXT-sketch-merge W2",
    oracle=f"""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    hs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    dw AS (
      SELECT DISTINCT days.d, hs.h
      FROM days JOIN hs ON hs.day BETWEEN days.d - 6 AND days.d
    ),
    bk AS (
      SELECT d, h FROM (
        SELECT d, h, row_number() OVER (PARTITION BY d ORDER BY h) AS rn
        FROM dw
      ) WHERE rn <= 32
    ),
    st AS (SELECT d, COUNT(*) AS n, MAX(h) AS kth FROM bk GROUP BY d),
    ex AS (
      SELECT days.d, count(DISTINCT e.user_id) AS exact_distinct
      FROM days JOIN events e
        ON CAST(e.ts AS DATE) BETWEEN days.d - 6 AND days.d
      WHERE e.user_id IS NOT NULL GROUP BY days.d
    )
    SELECT st.d AS day, {op_kmv._est_sql("st.n", "st.kth", 32)} AS estimate,
           CAST(st.n AS BIGINT) AS sketch_size,
           CAST(st.kth AS BIGINT) AS kth_hash,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM st JOIN ex ON ex.d = st.d
    """,
)
def kmv_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW distinct counting from DAILY leaf sketches — the
    operational payoff of sketch mergeability: exact 7-day sliding
    distinct users needs the raw events of every window (distinct
    does not decompose over days), but merging the per-day KMV
    sketches answers EVERY window from O(days × k) persisted rows —
    and because bottom-k merge is exact, the merged window sketch
    equals the sketch built directly from the window's raw events
    hash-for-hash, which the oracle (which builds window sketches the
    direct way) proves per window. One grouped-sketch scan, a
    dim-sized (days × window-days) range join over sketch rows, a
    per-day re-cap; the exact per-window distinct rides along as the
    accuracy witness — the quadratic-ish baseline the leaf-sketch
    store replaces."""
    ensure_utc(spark)
    k = 32
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    daily = op_kmv.kmv_sketch_grouped(ev, "day", "user_id", k).select(
        F.to_date("g").alias("sday"), "h"
    )
    days = ev.select("day").distinct()
    dw = (
        days.join(
            F.broadcast(daily),
            (F.col("sday") >= F.date_sub(F.col("day"), 6))
            & (F.col("sday") <= F.col("day")),
        )
        .select("day", "h")
        .distinct()
    )
    w = Window.partitionBy("day").orderBy("h")
    bk = (
        dw.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    st = bk.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("sketch_size"),
        F.max("h").alias("kth_hash"),
    )
    est = st.select(
        "day",
        op_kmv._est_expr(F.col("sketch_size"), F.col("kth_hash"), k).alias(
            "estimate"
        ),
        "sketch_size",
        "kth_hash",
    )
    # exact witness range-joins the DEDUPED (day, user) table, never raw
    # events — user-days are bounded by |users|·|days| while events grow
    # without bound (round-10's ×20 probe steepness came from joining
    # raw events here; see operators/kmv.py sliding_exact_distinct)
    user_days = (
        ev.where(F.col("user_id").isNotNull())
        .select(F.col("day").alias("eday"), "user_id")
        .distinct()
    )
    exact = (
        days.join(
            user_days,
            (F.col("eday") >= F.date_sub(F.col("day"), 6))
            & (F.col("eday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "day")


@spec(
    "stream_skyline_parts",
    "EXT-skyline EXT-stream-cdc T5",
    oracle="SELECT o.*, TRUE AS stream_consistent FROM ("
    + op_skyline.pareto_oracle_sql(
        "part",
        "p.p_partkey AS p_partkey, p.p_retailprice AS p_retailprice, "
        "p.p_size AS p_size",
        "p_retailprice",
        "p_size",
    )
    + ") o",
)
def stream_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Pareto-frontier maintenance (streaming/skyline.py) —
    dominance joins the streaming maintenance family: parts replay as
    a 4-micro-batch file stream, each batch folds into a versioned
    frontier table by frontier(stored ∪ batch), and because
    frontier(A∪B) = frontier(frontier(A)∪B) (dominance is transitive —
    proof in the module docstring), the drained frontier must equal
    the one-shot batch skyline of the full table row-for-row, for ANY
    micro-batch layout. Per batch the work is frontier+batch-bounded;
    history is never re-read — the live-dashboard version of "best
    price per size". Shares the batch gate's naive NOT-EXISTS oracle
    verbatim, with the engine-side sym-diff witness riding along."""
    ensure_utc(spark)
    from .streaming.skyline import run_skyline_stream

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    table_root = scratch_dir("sg_sky_tbl_")
    with staged_stream(part, 4) as (updates, ckpt):
        drained = run_skyline_stream(
            updates, "p_retailprice", "p_size", table_root, ckpt
        ).localCheckpoint(eager=True)
    direct = op_skyline.pareto_frontier(part, "p_retailprice", "p_size")
    diff = (
        _msdiff_rows(drained, direct)
        .agg((F.count(F.lit(1)) == 0).alias("stream_consistent"))
    )
    return drained.crossJoin(diff)


@spec(
    "bm25_index_artifact_fold",
    "EXT-search-bm25 EXT-artifact EXT-incr-rollup S14 S16",
    oracle=f"""
    WITH {_TOK_CTE},
    base AS (
      SELECT t.doc_id, u.w FROM tok t, unnest(t.t) AS u(w)
      WHERE NOT (t.doc_id % 4 = 0)
    ),
    df_base AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df FROM base GROUP BY w
    ),
    art AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS saved_terms,
             CAST(SUM(('0x' || substr(md5(w || ':' ||
                        CAST(df AS VARCHAR)), 1, 15))::BIGINT
                      % {_ART_CHECK_MOD}) AS BIGINT) AS saved_checksum
      FROM df_base
    )
    SELECT art.saved_terms, art.saved_checksum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS n_docs_folded,
           (SELECT CAST(COUNT(DISTINCT t.doc_id) AS BIGINT)
            FROM tok t, unnest(t.t) AS u(w)
            WHERE u.w IN ('vector', 'merge')) AS n_scored,
           TRUE AS fold_consistent,
           TRUE AS score_consistent,
           CAST(1 AS INT) AS artifact_version
    FROM art
    """,
)
def bm25_index_artifact_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL BM25 index maintenance — the ranked-search ingest
    path: the index's persistable state is four tables (per-doc term
    frequencies, doc lengths, the AGGREGATED document-frequency table,
    and the 1-row corpus stats), committed through the versioned
    archive. A new doc batch folds in WITHOUT rescanning history: tf/dl
    rows append (doc sets are disjoint), df counts MERGE by full-outer
    addition, and N / Σdl add — all exact integer algebra, so the
    folded df table must equal the recomputed-from-scratch one
    row-for-row (``fold_consistent``) and BM25 scores served through
    the folded index must equal direct full-corpus scores doc-for-doc
    (``score_consistent`` — same fixed expression tree over identical
    integers, compared EXACTLY, no tolerance). Saved-artifact checksum,
    corpus counts, and the matched-doc count replay in the oracle."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves

    terms = ["vector", "merge"]
    k1, b = 1.2, 0.75
    d = _t(spark, sf_dir, "documents")
    batch_pred = F.col("doc_id") % 4 == 0

    def tf_dl(dd: DataFrame) -> tuple[DataFrame, DataFrame]:
        toks = dd.select(
            "doc_id", F.explode(llm_text.tokens("text")).alias("w")
        )
        tf = toks.groupBy("doc_id", "w").agg(
            F.count(F.lit(1)).alias("tf")
        )
        dl = dd.select("doc_id", llm_text.token_count("text").alias("dl"))
        return tf, dl

    def df_of(tf: DataFrame) -> DataFrame:
        return tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))

    def stats_of(dl: DataFrame) -> DataFrame:
        return dl.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
        )

    tf_base, dl_base = tf_dl(d.filter(~batch_pred))
    ar = Archive(spark, scratch_dir("sg_bm25idx_"))
    v = ar.save_table("bm25_tf", tf_base)
    ar.save_table("bm25_dl", dl_base)
    ar.save_table("bm25_df", df_of(tf_base))
    ar.save_table("bm25_stats", stats_of(dl_base))
    tf_b, dl_b = tf_dl(d.filter(batch_pred))
    tf_f = ar.table("bm25_tf").unionByName(tf_b)
    dl_f = ar.table("bm25_dl").unionByName(dl_b)
    df_l = ar.table("bm25_df")
    df_f = (
        df_l.withColumnRenamed("df", "df_a")
        .join(
            df_of(tf_b).withColumnRenamed("df", "df_b"), "w", "full_outer"
        )
        .select(
            "w",
            (
                F.coalesce("df_a", F.lit(0)) + F.coalesce("df_b", F.lit(0))
            ).alias("df"),
        )
        .localCheckpoint(eager=True)
    )
    st_f = (
        ar.table("bm25_stats")
        .crossJoin(
            stats_of(dl_b)
            .withColumnRenamed("n", "nb")
            .withColumnRenamed("s", "sb")
        )
        .select(
            (F.col("n") + F.col("nb")).alias("n"),
            (F.col("s") + F.col("sb")).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    # direct recompute from the full corpus
    tf_dir, dl_dir = tf_dl(d)
    df_dir = df_of(tf_dir).localCheckpoint(eager=True)
    st_dir = stats_of(dl_dir)
    df_diff = (
        _msdiff_rows(df_f, df_dir)
        .agg((F.count(F.lit(1)) == 0).alias("df_same"))
    )
    st_diff = st_f.crossJoin(
        st_dir.withColumnRenamed("n", "nd").withColumnRenamed("s", "sd")
    ).select(
        ((F.col("n") == F.col("nd")) & (F.col("s") == F.col("sd"))).alias(
            "st_same"
        )
    )

    def scores(tf: DataFrame, dl: DataFrame, dfr: DataFrame, st: DataFrame):
        nd = F.col("n").cast("double")
        sd = F.col("s").cast("double")
        tfd = F.col("tf").cast("double")
        dfd = F.col("df").cast("double")
        dld = F.col("dl").cast("double")
        idf = F.log(
            (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)) + F.lit(1.0)
        )
        t_score = (
            idf
            * (tfd * F.lit(k1 + 1.0))
            / (tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dld * nd / sd))
        )
        return (
            tf.where(F.col("w").isin(terms))
            .join(F.broadcast(dfr.where(F.col("w").isin(terms))), "w")
            .join(dl, "doc_id")
            .crossJoin(st)
            .select("doc_id", t_score.alias("t_score"))
            .groupBy("doc_id")
            .agg(F.sum("t_score").alias("score"))
        )

    sc_f = scores(tf_f, dl_f, df_f, st_f)
    sc_d = scores(tf_dir, dl_dir, df_dir, st_dir)
    sc_cmp = (
        sc_f.withColumnRenamed("score", "sf")
        .join(sc_d.withColumnRenamed("score", "sdr"), "doc_id", "full_outer")
        .agg(
            F.sum(
                F.when(
                    F.col("sf").eqNullSafe(F.col("sdr")), 0
                ).otherwise(1)
            ).alias("n_mismatch"),
            F.count(F.lit(1)).cast("long").alias("n_scored"),
        )
        .select(
            (F.col("n_mismatch") == 0).alias("score_consistent"), "n_scored"
        )
    )
    h1, _ = md5_halves(
        F.concat_ws(":", F.col("w"), F.col("df").cast("string"))
    )
    art = df_l.agg(
        F.count(F.lit(1)).cast("long").alias("saved_terms"),
        F.sum(h1 % F.lit(_ART_CHECK_MOD)).cast("long").alias("saved_checksum"),
    )
    n_docs = st_f.select(F.col("n").cast("long").alias("n_docs_folded"))
    return (
        art.crossJoin(n_docs)
        .crossJoin(sc_cmp)
        .crossJoin(df_diff)
        .crossJoin(st_diff)
        .select(
            "saved_terms",
            "saved_checksum",
            "n_docs_folded",
            "n_scored",
            (F.col("df_same") & F.col("st_same")).alias("fold_consistent"),
            "score_consistent",
        )
        .withColumn("artifact_version", F.lit(v).cast("int"))
    )


# ----------------------------------------------------------------------
# Round 11 — (grain, width)-parameterized sliding KMV (r10 verdict
# item 4 generalizes round-10's fixed 7-day gate)
# ----------------------------------------------------------------------

@spec(
    "kmv_sliding_distinct_users_30d",
    "EXT-sketch-kmv EXT-sketch-merge W2",
    oracle=op_kmv.kmv_sliding_oracle_sql(
        "events", "ts", "user_id", 32, 30, "day"
    ),
)
def kmv_sliding_distinct_users_30d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The (grain, width)-PARAMETERIZED sliding-window KMV service
    (operators/kmv.py kmv_leaf_sketches / kmv_sliding_estimates /
    sliding_exact_distinct — r10 verdict item 4 generalized the fixed
    7-day gate): 30-day sliding distinct users over daily leaf
    sketches. Same leaf store answers BOTH the 7-day and the 30-day
    calendar — the point of persisting O(days × k) leaf rows instead of
    per-window raw events. The window merge range-joins the leaf table
    (≤ days×k rows); the exact witness range-joins the deduped user-day
    table, so neither side does per-event work, and the merged window
    sketch equals the directly-built one hash-for-hash (bottom-k merge
    exactness), which the oracle proves per window."""
    ensure_utc(spark)
    k, width = 32, 30
    ev = _t(spark, sf_dir, "events")
    leaves = op_kmv.kmv_leaf_sketches(ev, "ts", "user_id", k, "day")
    est = op_kmv.kmv_sliding_estimates(leaves, k, width, "day")
    exact = op_kmv.sliding_exact_distinct(ev, "ts", "user_id", width, "day")
    return est.join(exact, "wend")


# ----------------------------------------------------------------------
# Round 11 — streaming weighted sample (r10 verdict item 6)
# ----------------------------------------------------------------------

@spec(
    "stream_weighted_sample",
    "EXT-sample-weighted EXT-stream-cdc T5",
    oracle="""
    WITH pri AS (
      SELECT doc_id, n_chars,
             CASE WHEN n_chars <= 0 THEN 0.0 ELSE
               round(pow(
                 (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) + 1) / 4294967296.0,
                 1.0 / n_chars), 6)
             END AS priority
      FROM documents
    )
    SELECT doc_id, n_chars, priority, TRUE AS stream_consistent FROM (
      SELECT * FROM pri ORDER BY priority DESC, doc_id LIMIT 64
    )
    """,
)
def stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING weighted sampling (streaming/sample.py — r10 verdict
    item 6 completes the streaming maintenance family: KMV folds the
    hash sample, this folds the A-Res PRIORITY sample): documents
    replay as a 4-micro-batch file stream; each batch ranks itself
    (O(k) survivors), folds into a versioned ≤k-row reservoir, and
    because the priority is a pure per-row function the re-rank
    identity top-k(A∪B) = top-k(top-k(A)∪top-k(B)) — the same
    mergeability ``weighted_sample_merge`` proves across SHARDS —
    makes the drained reservoir equal the one-shot batch sample
    row-for-row, for ANY micro-batch layout. The oracle is the batch
    sampler's replay VERBATIM; the engine-side sym-diff against the
    direct sample rides along. At 100 TB this is reservoir-at-ingest:
    O(k) state forever, no corpus re-read per refresh."""
    from .streaming.sample import run_weighted_sample_stream

    ensure_utc(spark)
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    table_root = scratch_dir("sg_wsamp_tbl_")
    with staged_stream(d, 4) as (updates, ckpt):
        drained = run_weighted_sample_stream(
            updates, "doc_id", "n_chars", 64, table_root, ckpt
        ).localCheckpoint(eager=True)
    direct = llm_sampling.weighted_sample(d, "doc_id", "n_chars", 64)
    diff = (
        _msdiff_rows(drained, direct)
        .agg((F.count(F.lit(1)) == 0).alias("stream_consistent"))
    )
    return drained.select("doc_id", "n_chars", "priority").crossJoin(diff)


# ----------------------------------------------------------------------
# Round 11 — Bloom runtime-filter join pruning (r10 verdict item 3)
# ----------------------------------------------------------------------

@spec(
    "bloom_pruned_join",
    "EXT-sketch-bloom J2 EXT-runtime-filter",
    oracle=f"""
    WITH pj AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS joined_rows,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
    )
    SELECT p.cnt AS bloom_pass,
           pj.joined_rows,
           pj.revenue,
           CAST(p.cnt - pj.joined_rows AS BIGINT) AS false_pos_rows,
           TRUE AS no_false_negatives
    FROM ({op_bloom_join.bloom_prune_pass_count_sql(
        "lineitem",
        "l_orderkey",
        "orders",
        "o_orderkey",
        "o_orderpriority = '1-URGENT'",
    )}) p, pj
    """,
)
def bloom_pruned_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom runtime-filter join pruning as an EXPLICIT operator
    (operators/bloom_join.py; the adaptive engine-side twin is
    tests/test_runtime_filters.py): build the filter over the urgent
    orders' keys, broadcast the 1-row position mask, prune the lineitem
    scan BEFORE the join's exchange, then run the exact equi-join. One
    row out: the pruned-scan row count (DuckDB replays it through the
    portable md5 family — false positives hash-checked exactly), the
    joined rows + revenue (identical to the PLAIN join, which is the
    oracle's side — pruning must lose nothing), the false-positive leak
    in rows, and the Spark-side no-false-negatives witness (pruned-join
    count == unpruned-join count, computed independently engine-side).
    At 100 TB this is the shape that cuts the fact shuffle to
    |matches| + the bounded fp leak when the dim side exceeds the
    broadcast threshold but its key membership fits in KBs."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    dim = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    mask = op_bloom_join.bloom_pos_mask(dim, "o_orderkey")
    # the pruned frame feeds the pass count AND the join: checkpoint so
    # the probe (scan + k bit tests per row) runs once, not per consumer
    pruned = op_bloom_join.bloom_prune(li, "l_orderkey", mask).localCheckpoint(
        eager=True
    )
    bloom_pass = pruned.agg(
        F.count(F.lit(1)).cast("long").alias("bloom_pass")
    )
    joined = pruned.join(dim, pruned["l_orderkey"] == dim["o_orderkey"])
    jstats = joined.agg(
        F.count(F.lit(1)).cast("long").alias("joined_rows"),
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))),
            2,
        ).alias("revenue"),
    )
    plain_rows = (
        li.join(dim, li["l_orderkey"] == dim["o_orderkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("plain_rows"))
    )
    return (
        bloom_pass.crossJoin(jstats)
        .crossJoin(plain_rows)
        .select(
            "bloom_pass",
            "joined_rows",
            "revenue",
            (F.col("bloom_pass") - F.col("joined_rows"))
            .cast("long")
            .alias("false_pos_rows"),
            (F.col("joined_rows") == F.col("plain_rows")).alias(
                "no_false_negatives"
            ),
        )
    )


@spec(
    "heavy_hitter_types_sliding",
    "EXT-heavy-hitters EXT-sketch-merge W2",
    oracle="""
    WITH ends AS (
      SELECT DISTINCT date_trunc('day', ts) AS wend FROM events
      WHERE ts IS NOT NULL
    ),
    lk AS (
      SELECT date_trunc('day', ts) AS leaf,
             CAST(event_type AS VARCHAR) AS kk, COUNT(*) AS cnt
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    wc AS (
      SELECT ends.wend, lk.kk, SUM(lk.cnt) AS cnt
      FROM ends JOIN lk
        ON lk.leaf BETWEEN ends.wend - INTERVAL 6 day AND ends.wend
      GROUP BY ends.wend, lk.kk
    ),
    tot AS (SELECT wend, SUM(cnt) AS n_total FROM wc GROUP BY wend)
    SELECT CAST(wc.wend AS TIMESTAMP) AS wend, wc.kk AS event_type,
           CAST(wc.cnt AS BIGINT) AS cnt,
           CAST(tot.n_total AS BIGINT) AS n_total
    FROM wc JOIN tot ON tot.wend = wc.wend
    WHERE wc.cnt * 8 > tot.n_total
    """,
)
def heavy_hitter_types_sliding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SLIDING-WINDOW heavy hitters (operators/heavy_hitters.py
    mg_leaf_summaries / mg_sliding_heavy_hitters) — the Misra-Gries
    member of the sliding calendar family (KMV counts distinct, HLL
    counts distinct at higher cardinality, this finds the DOMINANT
    VALUES): event types holding > 1/8 of each 7-day window's events.
    Candidates come from the union of the window's per-day (k-1)-slot
    leaf summaries — a window heavy hitter must be a leaf heavy hitter
    in ≥1 leaf (averaging pigeonhole, proof in the operator docstring)
    — and the recount range-joins the per-day exact count table, never
    raw events, so the output is EXACT and the oracle is the plain
    per-window GROUP BY + integer threshold."""
    ensure_utc(spark)
    from .operators.heavy_hitters import mg_sliding_heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return mg_sliding_heavy_hitters(ev, "ts", "event_type", 8, 7, "day")


@spec(
    "pareto_frontier_by_brand",
    "EXT-skyline A2",
    oracle=op_skyline.pareto_grouped_oracle_sql(
        "part",
        "p_brand",
        "p.p_brand AS p_brand, p.p_partkey AS p_partkey, "
        "p.p_retailprice AS p_retailprice, p.p_size AS p_size",
        "p_retailprice",
        "p_size",
    ),
)
def pareto_frontier_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED Pareto frontier (operators/skyline.py
    pareto_frontier_grouped): cheapest-for-the-size parts PER BRAND —
    dominance evaluated within each group, the "best per catalog
    family" skyline. Same bucket-prune + exact-recheck shape as the
    global gate: thresholds are a (brands × 64)-row broadcast, the
    recheck joins candidates of the same brand only, and the result is
    exact (pruning discards only provably-dominated rows). The oracle
    replays the per-group NOT-EXISTS definition, so the optimized plan
    is checked against naive semantics per group."""
    ensure_utc(spark)
    part = _t(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    return op_skyline.pareto_frontier_grouped(
        part, "p_brand", "p_retailprice", "p_size"
    )


@spec(
    "hll_sliding_distinct_users",
    "EXT-sketch-hll EXT-sketch-merge W2",
    oracle=op_sketches.hll_sliding_oracle_sql(
        "events", "ts", "user_id", 7, "day"
    ),
)
def hll_sliding_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-window HLL (operators/sketches.py hll_leaf_registers /
    hll_sliding_estimates) — the register-table member of the sliding
    calendar family (the KMV twin is kmv_sliding_distinct_users[_30d]):
    7-day sliding distinct users from daily leaf REGISTER tables.
    Register-max merge is exact and order-free, so each window's merged
    registers equal the directly-built ones bucket-for-bucket — the
    oracle builds windows the direct way and hash-checks the estimates.
    The range join runs over O(days × 2^p) register rows; the exact
    witness range-joins the deduped user-day table (never raw events).
    KMV vs HLL trade at 100 TB: KMV leaves are k rows and support set
    algebra; HLL leaves are 2^p rows with tighter relative error at
    high cardinality — same leaf-store architecture either way."""
    ensure_utc(spark)
    width = 7
    ev = _t(spark, sf_dir, "events")
    leaves = op_sketches.hll_leaf_registers(ev, "ts", "user_id", "day")
    est = op_sketches.hll_sliding_estimates(leaves, width, "day")
    exact = op_kmv.sliding_exact_distinct(ev, "ts", "user_id", width, "day")
    return est.join(exact, "wend")


@spec(
    "bloom_mask_union_merge",
    "EXT-sketch-bloom EXT-sketch-merge EXT-runtime-filter",
    oracle=f"""
    WITH dh AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 17, 15))::BIGINT AS h2
      FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_orderkey IS NOT NULL
    ),
    bits AS (SELECT DISTINCT pos FROM ({" UNION ALL ".join(
        f"SELECT ({op_bloom_join.km_mix_sql(i)}) % {1 << 20} AS pos FROM dh"
        for i in range(5)
    )}))
    SELECT CAST({(1 << 20) // 64} AS BIGINT) AS mask_words,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS set_bits,
           TRUE AS merge_consistent,
           p.cnt AS bloom_pass
    FROM ({op_bloom_join.bloom_prune_pass_count_sql(
        "lineitem",
        "l_orderkey",
        "orders",
        "o_orderkey",
        "o_orderpriority = '1-URGENT'",
    )}) p
    """,
)
def bloom_mask_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter MERGEABILITY (operators/bloom_join.py
    bloom_mask_merge — the bloom_union_merge contract restated for the
    packed word-array carrier): the urgent-order dim splits into
    disjoint key-parity halves, each half builds its own packed mask,
    and the element-wise word-OR merge must equal the directly-built
    mask WORD-FOR-WORD (bit-union is associative) — per-day / per-
    partition runtime filters roll up without re-hashing any key. The
    gate probes lineitem through the MERGED mask, so the pass count —
    replayed exactly by the oracle through the portable md5 family —
    checks the merged filter's actual pruning behavior, not just its
    bits; set_bits (Σ bit_count over words) replays as the distinct
    position count."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    dim = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    ma = op_bloom_join.bloom_pos_mask(
        dim.where(F.col("o_orderkey") % 2 == 0), "o_orderkey"
    )
    mb = op_bloom_join.bloom_pos_mask(
        dim.where(F.col("o_orderkey") % 2 != 0), "o_orderkey"
    )
    merged = op_bloom_join.bloom_mask_merge(ma, mb).localCheckpoint(
        eager=True
    )
    direct = op_bloom_join.bloom_pos_mask(dim, "o_orderkey")
    consistent = (
        merged.select(F.col("mask").alias("__mm"))
        .crossJoin(direct.select(F.col("mask").alias("__md")))
        .select(
            F.expr(
                "aggregate(zip_with(__mm, __md, (x, y) ->"
                " CASE WHEN x = y THEN 0 ELSE 1 END), 0,"
                " (acc, d) -> acc + d) = 0"
            ).alias("merge_consistent")
        )
    )
    stats = merged.select(
        F.size("mask").cast("long").alias("mask_words"),
        F.expr(
            "aggregate(mask, CAST(0 AS BIGINT),"
            " (acc, w) -> acc + bit_count(w))"
        ).alias("set_bits"),
    )
    bloom_pass = (
        op_bloom_join.bloom_prune(li, "l_orderkey", merged)
        .agg(F.count(F.lit(1)).cast("long").alias("bloom_pass"))
    )
    return (
        stats.crossJoin(consistent)
        .crossJoin(bloom_pass)
        .select("mask_words", "set_bits", "merge_consistent", "bloom_pass")
    )


@spec(
    "event_value_quantiles_sliding",
    "EXT-sketch-quantile EXT-sketch-merge W2",
    oracle=op_sketches.histogram_sliding_oracle_sql(
        "events", "ts", "value", 7
    ),
)
def event_value_quantiles_sliding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-window quantiles (operators/sketches.py
    histogram_leaf_bins / histogram_sliding_quantiles) — the FOURTH
    member of the sliding calendar family (KMV and HLL count distinct,
    MG finds dominant values, this estimates the DISTRIBUTION): 7-day
    p50/p90/p99 of event values from daily 64-bin leaf histograms under
    shared fixed edges. Leaf cells SUM-merge (integer, associative), so
    the window bins equal binning the window's raw events directly —
    the oracle builds windows the direct way, making the driver
    comparison itself the mergeability proof; interpolation and
    half-up rounding replay the batch estimator's exact arithmetic
    (histogram_quantile_sketch). All window work is windows × bins
    rows; raw events are touched once, to build the leaves."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    # ts-not-null matches the oracle's src CTE: a non-null value on a
    # null-ts row contributes to no leaf bin, so it must not shift the
    # shared fixed edges either
    st = (
        ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .agg(
            F.min(F.col("value").cast("double")),
            F.max(F.col("value").cast("double")),
        )
        .first()
    )
    lo, hi = float(st[0]), float(st[1])
    leaves = op_sketches.histogram_leaf_bins(
        ev, "ts", "value", lo, hi, 64, "day"
    )
    return op_sketches.histogram_sliding_quantiles(leaves, lo, hi, 7, 64)


@spec(
    "bloom_pruned_anti_join",
    "EXT-sketch-bloom J9 EXT-runtime-filter",
    oracle=f"""
    WITH pa AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS anti_rows,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem l
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey
          AND o.o_orderpriority = '1-URGENT'
      )
    ),
    ft AS (SELECT CAST(COUNT(*) AS BIGINT) AS fact_rows FROM lineitem)
    SELECT pa.anti_rows,
           pa.revenue,
           p.cnt AS shuffled_rows,
           CAST(ft.fact_rows - p.cnt AS BIGINT) AS skipped_rows,
           TRUE AS anti_consistent
    FROM ({op_bloom_join.bloom_prune_pass_count_sql(
        "lineitem",
        "l_orderkey",
        "orders",
        "o_orderkey",
        "o_orderpriority = '1-URGENT'",
    )}) p, pa, ft
    """,
)
def bloom_pruned_anti_join_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-SHORT-CIRCUITED anti join (operators/bloom_join.py
    bloom_pruned_anti_join — the diff-sync / new-only / decontamination
    shape): lineitems NOT in urgent orders. Rows failing the membership
    test are definite non-members and bypass the join entirely — no
    false negatives — so only the maybe-present minority (true members
    + the bounded fp leak, emitted as ``shuffled_rows`` and replayed
    exactly by the oracle through the portable md5 family) pays the
    anti-join exchange; ``skipped_rows`` counts the shuffle the filter
    saved. Result must be row-identical to the plain anti join (the
    oracle's NOT EXISTS side), with the engine-side sym-diff witness
    riding along. At 100 TB + append-mostly ingest this turns
    insert-if-absent from an O(fact) shuffle into O(matches + fp)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    dim = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    # r13 optimization round: the first cut built the Bloom mask TWICE
    # (inside bloom_pruned_anti_join and again for the shuffled-rows
    # stat) and md5-probed the 600k-row fact table twice. One
    # checkpointed mask + ONE cached probe pass (bloom_tag) now serve
    # both consumers; `shuffled_rows` = the tagged maybe-count, which
    # is exactly bloom_prune's row set (not-null ∧ all-k-bits).
    mask = op_bloom_join.bloom_pos_mask(dim, "o_orderkey").localCheckpoint(
        eager=True
    )
    tagged = op_bloom_join.bloom_tag(li, "l_orderkey", mask).persist()
    # the anti result feeds the stats agg AND the _msdiff_rows witness:
    # checkpoint so the probe + anti-join pipeline runs once, not twice
    anti = op_bloom_join.bloom_anti_from_tagged(
        tagged, "l_orderkey", dim, "o_orderkey"
    ).localCheckpoint(eager=True)
    stats = anti.agg(
        F.count(F.lit(1)).cast("long").alias("anti_rows"),
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))),
            2,
        ).alias("revenue"),
    )
    shuffled = tagged.where(F.col("__maybe")).agg(
        F.count(F.lit(1)).cast("long").alias("shuffled_rows")
    )
    fact_rows = li.agg(F.count(F.lit(1)).cast("long").alias("fact_rows"))
    plain = li.join(
        dim, li["l_orderkey"] == dim["o_orderkey"], "left_anti"
    )
    diff = (
        _msdiff_rows(anti, plain)
        .agg((F.count(F.lit(1)) == 0).alias("anti_consistent"))
    )
    return (
        stats.crossJoin(shuffled)
        .crossJoin(fact_rows)
        .crossJoin(diff)
        .select(
            "anti_rows",
            "revenue",
            "shuffled_rows",
            (F.col("fact_rows") - F.col("shuffled_rows"))
            .cast("long")
            .alias("skipped_rows"),
            "anti_consistent",
        )
    )


# ----------------------------------------------------------------------
# Round 12 — graph ANN (the NSW/HNSW tier) + streaming IVF maintenance
# ----------------------------------------------------------------------


@spec(
    "graph_ann_topk",
    "LLM-sim-ann EXT-ann-graph",
    oracle=llm_graph_ann.nsw_oracle_sql(m_neighbors=12, beam=32, hops=4),
)
def graph_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN (llm/graph_ann.py — the beam-search-over-a-
    neighbor-graph family, the FAISS-HNSW/ScaNN production tier; r11
    verdict item 3 completes the ANN coverage next to IVF, PQ, LSH and
    int8): a deterministic NSW — portable 8-plane signature split into
    two 4-bit bucket families, per-family within-bucket top-12 cosine
    edges (6dp-rounded, id tie-break), symmetrized — searched by a
    4-hop beam-32 walk from the 4 lowest-id entry points, exact 4dp
    re-rank of the final beam. Production HNSW is insertion-order-
    dependent; this variant is order-free end to end, so the WHOLE
    pipeline (graph included) hash-checks against the DuckDB replay —
    recall@10 vs brute force (10/10 at all three SFs) and the
    symmetrized edge count ride along as exact-checked columns. At
    100 TB: build = two bucket-keyed exchanges + a windowed top-M
    (never all-pairs); search touches O(beam × M × hops) adjacency
    rows via broadcast joins — no corpus scan at query time."""
    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    # edges feed the search (4 hops) AND the n_edges rider: checkpoint
    # so the bucketed kNN build runs once. topk is NOT checkpointed:
    # nsw_search is eager (r13 optimization round) and returns a cheap
    # bounded pruned-scan plan.
    edges = llm_graph_ann.nsw_edges(e, m_neighbors=12).localCheckpoint(
        eager=True
    )
    topk = llm_graph_ann.nsw_search(edges, e, q, beam=32, hops=4)
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    hits = (
        topk.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("recall_hits"))
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return topk.crossJoin(hits).crossJoin(ne)


@spec(
    "stream_ivf_ingest",
    "LLM-sim-ann-ivf EXT-ann-incr EXT-stream-cdc T5",
    oracle=f"""
    SELECT o.vec_id, o.cos_sim, TRUE AS stream_consistent
    FROM ({_IVF_ANN_TOPK_ORACLE}) o
    """,
)
def stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF index maintenance (streaming/ann.py — r11 verdict
    item 4 gives the ANN fold family its streaming twin, like KMV/MG/
    CC/LSH/skyline/sample before it): embeddings replay as a
    4-micro-batch file stream; each batch is assigned against FROZEN
    centroids (one map-only broadcast pass, zero shuffle) and appended
    to a log-structured inverted-lists store; searching the DRAINED
    index returns exactly what searching a one-shot batch build
    returns, for ANY micro-batch layout — per-row argmax against
    frozen centroids is order-independent, the incremental_ivf_equiv
    property applied over time. The oracle is the batch IVF search's
    replay VERBATIM (the ivf_ann_topk SQL); the engine-side sym-diff
    of stream-built vs batch-built search rides along. At 100 TB this
    is vector-store ingest: O(batch) work per batch, the historical
    corpus never re-assigned."""
    from .streaming.ann import run_ivf_ingest_stream

    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    cdf = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        llm_similarity.as_double("embedding").alias("cv"),
    )
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    index_root = scratch_dir("sg_ivf_idx_")
    with staged_stream(e.select("vec_id", "embedding"), 4) as (updates, ckpt):
        drained = run_ivf_ingest_stream(updates, cdf, index_root, ckpt)
    topk_stream = llm_similarity.ivf_search_index(
        drained, cdf, q, nprobe=4, k=10
    ).localCheckpoint(eager=True)
    topk_batch = llm_similarity.ivf_search_index(
        llm_similarity.ivf_index(e, cdf), cdf, q, nprobe=4, k=10
    )
    diff = (
        _msdiff_rows(topk_stream, topk_batch)
        .agg((F.count(F.lit(1)) == 0).alias("stream_consistent"))
    )
    return topk_stream.crossJoin(diff)


@spec(
    "sliding_spine_consistency",
    "EXT-sketch-kmv EXT-sketch-hll EXT-sketch-merge W2",
    oracle=f"""
    SELECT k.wend, k.estimate AS kmv_estimate,
           k.sketch_size AS kmv_sketch_size,
           h.estimate AS hll_estimate, h.nonzero_registers,
           k.exact_distinct, TRUE AS ends_consistent
    FROM ({op_kmv.kmv_sliding_oracle_sql(
        "events", "ts", "user_id", 32, 7, "day"
    )}) k
    JOIN ({op_sketches.hll_sliding_oracle_sql(
        "events", "ts", "user_id", 7, "day"
    )}) h
      ON h.wend = k.wend
    """,
)
def sliding_spine_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family sliding-spine witness (operators/sliding.py — r11
    verdict item 6 factored the four families' ends-derivation + range
    join into ONE module; this gates the agreement the factoring pins):
    KMV bottom-k leaves and HLL register leaves built from the SAME
    daily spine over events.user_id answer the SAME 7-day window set —
    ``ends_consistent`` sym-diffs the two families' window-end sets
    engine-side, and the per-window KMV estimate, HLL estimate and
    exact distinct count land in one row per wend, each hash-checked
    against its own family's direct-build replay. A leaf-store service
    at 100 TB keeps MANY sketch families per spine (distinct counts,
    quantiles, dominant values); this is the contract that they never
    disagree about WHICH windows exist."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    # both leaf tables feed an estimate pass AND the ends sym-diff:
    # checkpoint so each builds once
    kleaves = op_kmv.kmv_leaf_sketches(
        ev, "ts", "user_id", 32, "day"
    ).localCheckpoint(eager=True)
    hleaves = op_sketches.hll_leaf_registers(
        ev, "ts", "user_id", "day"
    ).localCheckpoint(eager=True)
    kest = op_kmv.kmv_sliding_estimates(kleaves, 32, 7, "day").select(
        "wend",
        F.col("estimate").alias("kmv_estimate"),
        F.col("sketch_size").alias("kmv_sketch_size"),
    )
    hest = op_sketches.hll_sliding_estimates(hleaves, 7, "day").select(
        "wend",
        F.col("estimate").alias("hll_estimate"),
        "nonzero_registers",
    )
    exact = op_kmv.sliding_exact_distinct(ev, "ts", "user_id", 7, "day")
    ke = op_sliding.window_ends(kleaves)
    he = op_sliding.window_ends(hleaves)
    ends_ok = (
        _msdiff_rows(ke, he)
        .agg((F.count(F.lit(1)) == 0).alias("ends_consistent"))
    )
    return kest.join(hest, "wend").join(exact, "wend").crossJoin(ends_ok)


@spec(
    "incremental_nsw_equiv",
    "LLM-sim-ann EXT-ann-graph EXT-ann-incr",
    oracle=f"""
    SELECT o.vec_id, o.cos_sim, o.recall_hits, o.n_edges,
           TRUE AS equiv_consistent
    FROM ({llm_graph_ann.nsw_oracle_sql(
        m_neighbors=12, beam=32, hops=4
    )}) o
    """,
)
def incremental_nsw_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL NSW graph maintenance (llm/graph_ann.py
    nsw_fold_directed — the incremental_ivf_equiv two-batch device,
    graph-shaped): the corpus splits into a base (vec_id%5≠4) and a new
    daily batch (vec_id%5=4); the batch folds into the stored DIRECTED
    edge table by recomputing ONLY the (family, bucket) cells it lands
    in over the union corpus — every untouched cell's edges carry over
    verbatim. Exactness is structural: a within-cell kNN edge is a pure
    function of its cell's membership, and a batch changes membership
    only where it lands, so fold(old, batch) equals the full rebuild
    cell-for-cell (``equiv_consistent`` sym-diffs the tagged directed
    tables engine-side) and the beam search through the folded graph
    returns the rebuild's rows — the oracle is the full-rebuild replay
    VERBATIM. At 100 TB this is daily embedding-store growth:
    O(touched-cell population) per batch, never a corpus rebuild."""
    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    base = e.filter(F.col("vec_id") % 5 != 4)
    batch = e.filter(F.col("vec_id") % 5 == 4)
    d_old = llm_graph_ann.nsw_directed_edges(
        llm_graph_ann.nsw_bucketed(base), m_neighbors=12
    )
    d_inc = llm_graph_ann.nsw_fold_directed(
        d_old, e, batch, m_neighbors=12
    ).localCheckpoint(eager=True)
    d_full = llm_graph_ann.nsw_directed_edges(
        llm_graph_ann.nsw_bucketed(e), m_neighbors=12
    )
    equiv = (
        _msdiff_rows(d_inc, d_full)
        .agg((F.count(F.lit(1)) == 0).alias("equiv_consistent"))
    )
    edges = llm_graph_ann.nsw_symmetrize(d_inc).localCheckpoint(eager=True)
    topk = llm_graph_ann.nsw_search(edges, e, q, beam=32, hops=4)
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    hits = (
        topk.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("recall_hits"))
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return topk.crossJoin(hits).crossJoin(ne).crossJoin(equiv)


@spec(
    "nsw_index_artifact_roundtrip",
    "LLM-sim-ann EXT-ann-graph EXT-artifact S14 S16",
    oracle=f"""
    SELECT o.vec_id, o.cos_sim, o.recall_hits, o.n_edges,
           o.edge_checksum, TRUE AS search_consistent
    FROM ({llm_graph_ann.nsw_oracle_sql(
        m_neighbors=12, beam=32, hops=4, checksum_mod=1_000_000_007
    )}) o
    """,
)
def nsw_index_artifact_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NSW-INDEX persistence (the artifact story's ANN-graph member,
    beside the IVF/PQ/LSH/trigram index artifacts): the graph's entire
    persistable state is the symmetrized edge table, committed through
    the archive's versioned crash-safe protocol, reloaded from parquet,
    and searched — the loaded-graph beam search must return exactly the
    built-graph rows (``search_consistent`` sym-diff; the emitted rows
    come from the LOADED path), and the edge checksum hash-checks
    against the oracle's full build replay (md5 over src:dst canonical
    strings, the shared artifact-checksum formula). With
    incremental_nsw_equiv this closes the growth loop: reload last
    month's graph, fold today's batch cell-locally, search. Ref: parity
    N/A (§2.12); persistence via archive.py save_table."""
    ensure_utc(spark)
    from .archive import Archive
    from .functions.portable_hash import md5_halves as _md5h

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    # ONE bucketed kNN build serves both paths (r13 optimization round:
    # the first cut built the graph twice — once to save, once as the
    # "built path" witness — but the build is deterministic and the
    # sym-diff's job is loaded-vs-built SEARCH equality, so the saved
    # table and the built-path search share the same checkpointed build;
    # the loaded path still comes from the parquet roundtrip).
    edges = llm_graph_ann.nsw_edges(e, m_neighbors=12).localCheckpoint(
        eager=True
    )
    ar = Archive(spark, scratch_dir("sg_nswart_"))
    ar.save_table("nsw_edges", edges)
    edges_l = ar.table("nsw_edges").localCheckpoint(eager=True)
    topk_l = llm_graph_ann.nsw_search(edges_l, e, q, beam=32, hops=4)
    topk_direct = llm_graph_ann.nsw_search(edges, e, q, beam=32, hops=4)
    diff = (
        _msdiff_rows(topk_l, topk_direct)
        .agg((F.count(F.lit(1)) == 0).alias("search_consistent"))
    )
    ck, _ = _md5h(
        F.concat_ws(
            ":", F.col("src").cast("string"), F.col("dst").cast("string")
        )
    )
    stat = edges_l.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(ck % F.lit(_ART_CHECK_MOD)).cast("long").alias("edge_checksum"),
    )
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    hits = (
        topk_l.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("recall_hits"))
    )
    return (
        topk_l.crossJoin(hits)
        .crossJoin(stat)
        .crossJoin(diff)
        .select(
            "vec_id",
            "cos_sim",
            "recall_hits",
            "n_edges",
            "edge_checksum",
            "search_consistent",
        )
    )


@spec(
    "stream_nsw_ingest",
    "LLM-sim-ann EXT-ann-graph EXT-ann-stream T5",
    oracle=f"""
    SELECT o.vec_id, o.cos_sim, o.recall_hits, o.n_edges,
           TRUE AS stream_consistent
    FROM ({llm_graph_ann.nsw_oracle_sql(
        m_neighbors=12, beam=32, hops=4
    )}) o
    """,
)
def stream_nsw_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING NSW graph maintenance (streaming/ann.py
    run_nsw_ingest_stream — the graph-ANN member of the streaming fold
    family, completing the matrix: KMV/MG/CC/LSH/skyline/sample/IVF and
    now the neighbor graph all have twins): embeddings replay as a
    4-micro-batch file stream into a CELL-KEYED edge store — each batch
    buckets itself (map-only), appends its bucketed rows to the vector
    log, and overwrites ONLY the (family, bucket) cell directories it
    lands in with edges recomputed over those cells' members (the
    incremental_nsw_equiv fold, applied over time; at scale a dynamic
    partition overwrite). Because cell edges are a pure function of
    cell membership, the drained store equals the one-shot batch build
    edge-for-edge for ANY micro-batch layout — the engine sym-diffs the
    directed tables AND compares the beam searches; the oracle is the
    full-build replay VERBATIM. Crash-replay: both writes are
    deterministic, so a replayed batch rewrites identical rows and a
    torn cell directory self-heals on the overwrite."""
    from .streaming.ann import run_nsw_ingest_stream

    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    with staged_stream(e.select("vec_id", "embedding"), 4) as (updates, ckpt):
        drained = run_nsw_ingest_stream(
            updates, scratch_dir("sg_nsw_idx_"), ckpt, m_neighbors=12
        ).localCheckpoint(eager=True)
    batch_built = llm_graph_ann.nsw_directed_edges(
        llm_graph_ann.nsw_bucketed(e), m_neighbors=12
    )
    consistent = (
        _msdiff_rows(drained, batch_built)
        .agg((F.count(F.lit(1)) == 0).alias("stream_consistent"))
    )
    edges = llm_graph_ann.nsw_symmetrize(drained).localCheckpoint(eager=True)
    topk = llm_graph_ann.nsw_search(edges, e, q, beam=32, hops=4)
    exact10 = llm_similarity.cosine_topk(e, q, k=10).select("vec_id")
    hits = (
        topk.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("recall_hits"))
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return topk.crossJoin(hits).crossJoin(ne).crossJoin(consistent)


@spec(
    "stream_ivf_delete_equiv",
    "LLM-sim-ann-ivf EXT-ann-stream EXT-ann-delete S12 T5",
    oracle=f"""
    SELECT o.vec_id, o.cos_sim, TRUE AS delete_consistent
    FROM ({_ivf_topk_oracle("vec_id % 7 <> 3")}) o
    """,
)
def stream_ivf_delete_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF store DELETION (streaming/ann.py run_ivf_delete_stream —
    r12 verdict item 4: the streaming ANN stores must shrink as well as
    grow): embeddings stream-ingest into the log-structured inverted
    lists as usual, then a second drain tombstones every vec_id%7==3 id
    (per-batch tombstone log directories, anti-joined out of every
    store read). Assignment is per-row pure, so fold-with-delete equals the
    rebuild WITHOUT the deleted rows — the incremental_nsw_equiv device
    inverted: the engine sym-diffs the post-delete store against
    ``ivf_index(remaining)`` and emits the post-delete SEARCH rows,
    hash-checked against the oracle's replay over the remaining corpus
    (frozen full-corpus centroids — deletes never retrain). At 100 TB
    this is vector-store GDPR/TTL erasure: O(tombstone) work per batch,
    no list rewrite, no corpus re-assignment. Contract: ids are not
    re-ingested after deletion. Ref: parity N/A (§2.12); keyed-delete
    semantics modeled on the reference's stale-link removal
    (main_scraper.py:164-167), store-shaped."""
    from .streaming.ann import run_ivf_delete_stream, run_ivf_ingest_stream

    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    cdf = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        llm_similarity.as_double("embedding").alias("cv"),
    )
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    index_root = scratch_dir("sg_ivfdel_idx_")
    # 2-batch ingest SETUP (multi-batch ingest itself is
    # stream_ivf_ingest's 4-batch gate — this gate pays for the DELETE
    # path: two tombstone batches + the rebuild witness)
    with staged_stream(e.select("vec_id", "embedding"), 2) as (updates, ckpt):
        run_ivf_ingest_stream(updates, cdf, index_root, ckpt)
    deleted = e.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    with staged_stream(deleted, 2) as (del_updates, ckpt):
        drained = run_ivf_delete_stream(
            del_updates, index_root, ckpt
        ).localCheckpoint(eager=True)
    remaining = e.filter(F.col("vec_id") % 7 != 3)
    rebuilt = llm_similarity.ivf_index(remaining, cdf)
    key = lambda df: df.select(  # noqa: E731 — local comparator
        "vec_id", "cluster", F.round("vn", 9).alias("vn9")
    )
    diff = (
        _msdiff_rows(key(drained), key(rebuilt))
        .agg((F.count(F.lit(1)) == 0).alias("delete_consistent"))
    )
    topk = llm_similarity.ivf_search_index(drained, cdf, q, nprobe=4, k=10)
    return topk.crossJoin(diff)


@spec(
    "stream_nsw_delete_equiv",
    "LLM-sim-ann EXT-ann-graph EXT-ann-stream EXT-ann-delete S12 T5",
    oracle=f"""
    SELECT o.vec_id, o.cos_sim, o.recall_hits, o.n_edges,
           TRUE AS delete_consistent
    FROM ({llm_graph_ann.nsw_oracle_sql(
        m_neighbors=12, beam=32, hops=4,
        corpus_where="vec_id % 7 <> 3",
    )}) o
    """,
)
def stream_nsw_delete_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSW cell-store DELETION (streaming/ann.py run_nsw_delete_stream
    + llm/graph_ann.py nsw_apply_deletes — r12 verdict item 4, graph
    member): after the usual stream ingest, a delete drain tombstones
    every vec_id%7==3 ROW IMAGE in the cell-partitioned vector log and
    recomputes ONLY the deleted rows' cells over the remaining live
    members; cells emptied by the delete are explicitly purged (the
    r12-ADVICE append-only caveat, closed). A delete is a membership
    change and cell edges are a pure function of membership, so the
    post-delete store equals ``nsw_directed_edges`` over the remaining
    corpus cell-for-cell — engine sym-diff, plus the post-delete beam
    search hash-checked against the oracle's build+search replay over
    the remaining rows (recall vs the remaining corpus' exact top-10
    rides along). Per-batch cost ∝ touched-cell population: both log
    reads partition-prune to the touched cells. Contract: ids are not
    re-ingested after deletion."""
    from .streaming.ann import run_nsw_delete_stream, run_nsw_ingest_stream

    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    remaining = e.filter(F.col("vec_id") % 7 != 3)
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    index_root = scratch_dir("sg_nswdel_idx_")
    # 2-batch ingest SETUP (multi-batch ingest itself is
    # stream_nsw_ingest's 4-batch gate — this gate pays for the DELETE
    # path: two tombstone batches + the rebuild witness)
    with staged_stream(e.select("vec_id", "embedding"), 2) as (updates, ckpt):
        run_nsw_ingest_stream(updates, index_root, ckpt, m_neighbors=12)
    deleted = e.filter(F.col("vec_id") % 7 == 3).select("vec_id", "embedding")
    with staged_stream(deleted, 2) as (del_updates, ckpt):
        drained = run_nsw_delete_stream(
            del_updates, index_root, ckpt, m_neighbors=12
        ).localCheckpoint(eager=True)
    rebuilt = llm_graph_ann.nsw_directed_edges(
        llm_graph_ann.nsw_bucketed(remaining), m_neighbors=12
    )
    consistent = (
        _msdiff_rows(drained, rebuilt)
        .agg((F.count(F.lit(1)) == 0).alias("delete_consistent"))
    )
    edges = llm_graph_ann.nsw_symmetrize(drained).localCheckpoint(eager=True)
    topk = llm_graph_ann.nsw_search(edges, remaining, q, beam=32, hops=4)
    exact10 = llm_similarity.cosine_topk(remaining, q, k=10).select("vec_id")
    hits = (
        topk.select("vec_id")
        .join(exact10, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("recall_hits"))
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return topk.crossJoin(hits).crossJoin(ne).crossJoin(consistent)


@spec(
    "stream_lsh_delete_equiv",
    "LLM-dedup-minhash EXT-ann-delete EXT-stream-cdc S12 T5",
    oracle="WITH " + _minhash_band_pipeline_ctes(
        """SELECT doc, text FROM (
        SELECT doc_id AS doc, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc, text FROM documents
      ) WHERE doc % 7 <> 3"""
    ) + """
    SELECT doc_a, doc_b, est_jaccard, TRUE AS delete_consistent
    FROM est WHERE est_jaccard >= 0.5
    """,
)
def stream_lsh_delete_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-store DELETION (streaming/dedup.py
    run_lsh_delete_stream — r12 verdict item 4, dedup member): the
    cloned corpus stream-ingests as usual, then a tombstone drain
    deletes every doc%7==3 id; banding is per-doc pure, so the LIVE
    index (insert logs anti-joined against tombstones) equals the
    one-shot build over the remaining docs row-for-row — the engine
    sym-diffs live sigs AND bands against the direct build, and the
    emitted rows are the near-dup pairs RE-DERIVED from the live index
    (a deleted doc must stop matching immediately), hash-checked
    against the oracle's band replay over the remaining corpus. The
    pairs log keeps history (a dedup audit trail); liveness is the
    index's job. At 100 TB: a tombstone append + broadcast anti-join,
    history never re-shingled. Contract: doc ids are not re-ingested
    after deletion."""
    from .llm.dedup import lsh_pairs_from_index
    from .streaming.dedup import run_lsh_delete_stream, run_lsh_ingest_stream

    ensure_utc(spark)
    corpus = _cloned_docs(spark, sf_dir).select(
        F.col("doc_id").alias("doc"), "text"
    )
    index_root = scratch_dir("sg_lshdel_idx_")
    # 2-batch ingest SETUP (multi-batch ingest itself is
    # stream_lsh_ingest_dups' 4-batch gate — this gate pays for the
    # DELETE path: two tombstone batches + the live-vs-rebuild witness)
    with staged_stream(corpus, 2) as (updates, ckpt):
        run_lsh_ingest_stream(
            updates, index_root, ckpt, 32, 16, 3, portable=True
        )
    deleted = corpus.filter(F.col("doc") % 7 == 3).select("doc")
    with staged_stream(deleted, 2) as (del_updates, ckpt):
        _pairs, sigs, bands = run_lsh_delete_stream(
            del_updates, index_root, ckpt
        )
    sigs = sigs.localCheckpoint(eager=True)
    bands = bands.localCheckpoint(eager=True)
    remaining = corpus.filter(F.col("doc") % 7 != 3)
    want_sigs = llm_dedup.minhash_signatures(
        remaining, "doc", "text", 32, 3, portable=True
    ).localCheckpoint(eager=True)
    want_bands = llm_dedup.minhash_band_table(
        want_sigs, 32, 16, portable=True
    )
    sig_diff = (
        _msdiff_rows(sigs, want_sigs)
        .select(F.lit(1).alias("one"))
    )
    band_diff = (
        _msdiff_rows(bands, want_bands)
        .select(F.lit(1).alias("one"))
    )
    consistent = sig_diff.unionByName(band_diff).agg(
        (F.count(F.lit(1)) == 0).alias("delete_consistent")
    )
    live_pairs = lsh_pairs_from_index(bands, sigs, 32)
    return live_pairs.filter(F.col("est_jaccard") >= 0.5).crossJoin(
        consistent
    )


@spec(
    "store_compaction_equiv",
    "EXT-store-compaction EXT-ann-delete EXT-ann-stream S10 S12 T5",
    oracle=f"""
    SELECT o.vec_id, o.cos_sim, TRUE AS compaction_consistent
    FROM ({_ivf_topk_oracle("vec_id % 7 <> 3")}) o
    """,
)
def store_compaction_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-structured store COMPACTION, end-to-end (streaming/store.py
    — the LSM lifecycle step that keeps the ANN stores bounded as
    ingest/delete run on): embeddings stream-ingest into the IVF lists,
    a tombstone drain deletes every vec_id%7==3 id, then
    ``compact_ivf_store`` rewrites the live view as ONE committed
    baseline (parquet _SUCCESS + the atomically-published consumed-log
    manifest) and GCs the insert/tombstone logs. The compacted store
    must read back EXACTLY as the pre-compaction live view — which is
    the rebuild WITHOUT the deleted rows — and searching it returns the
    same rows, hash-checked against the oracle's replay over the
    remaining corpus (shared verbatim with ``stream_ivf_delete_equiv``:
    compaction must be INVISIBLE to every reader). The engine-side
    witness also asserts the logs are physically gone — the part the
    equality alone can't see. NSW and LSH share the protocol
    (tests/test_graph_ann.py, tests/test_streaming_dedup.py). Ref:
    parity N/A (§2.12); the store lifecycle completes the reference's
    keyed-delete loop (main_scraper.py:164-167) at store scale."""
    import os as _os

    from .streaming.ann import (
        compact_ivf_store,
        read_ivf_store,
        run_ivf_delete_stream,
        run_ivf_ingest_stream,
    )

    ensure_utc(spark)
    e = _t(spark, sf_dir, "embeddings")
    cdf = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        llm_similarity.as_double("embedding").alias("cv"),
    )
    q = e.filter(F.col("vec_id") == 0).select(
        llm_similarity.as_double("embedding").alias("qv")
    )
    index_root = scratch_dir("sg_cmp_idx_")
    with staged_stream(e.select("vec_id", "embedding"), 2) as (updates, ckpt):
        run_ivf_ingest_stream(updates, cdf, index_root, ckpt)
    deleted = e.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    with staged_stream(deleted, 2) as (del_updates, ckpt):
        run_ivf_delete_stream(del_updates, index_root, ckpt)
    compact_ivf_store(spark, index_root)
    logs_gone = not any(
        d.startswith(("b_", "d_")) for d in _os.listdir(index_root)
    )
    compacted = read_ivf_store(spark, index_root).localCheckpoint(
        eager=True
    )
    rebuilt = llm_similarity.ivf_index(
        e.filter(F.col("vec_id") % 7 != 3), cdf
    )
    key = lambda df: df.select(  # noqa: E731 — local comparator
        "vec_id", "cluster", F.round("vn", 9).alias("vn9")
    )
    diff = (
        _msdiff_rows(key(compacted), key(rebuilt))
        .agg(
            ((F.count(F.lit(1)) == 0) & F.lit(logs_gone)).alias(
                "compaction_consistent"
            )
        )
    )
    topk = llm_similarity.ivf_search_index(compacted, cdf, q, nprobe=4, k=10)
    return topk.crossJoin(diff)


@spec(
    "bloom_sliding_membership",
    "EXT-sliding-bloom EXT-sketch-bloom EXT-sketch-merge W2 J10",
    oracle=f"""
    SELECT o.wend, o.probed, o.maybe_present, o.true_present,
           o.false_positives, TRUE AS ends_consistent_3way
    FROM ({op_sketches.bloom_sliding_oracle_sql(
        "events", "ts", "user_id", "customer", "c_custkey", 7, "day"
    )}) o
    """,
)
def bloom_sliding_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING Bloom membership — the FIFTH leaf-store family on the
    shared calendar spine (operators/sliding.py; r12 verdict item 5:
    prove the spine's "a new family is a ~20-line leaf builder" claim —
    ``bloom_leaf_bits`` is 8 lines over the existing grouped builder):
    one Bloom filter per day of events.user_id persisted as bit leaves;
    every 7-day window's filter is the bit-UNION of its leaves
    (set-union associativity — the bloom_union_merge mergeability,
    calendar-shaped), probed with every customer key; per-window
    probed / maybe / true / FALSE POSITIVES hash-check against the
    oracle's full replay. ``ends_consistent_3way`` extends the spine
    agreement gate to THREE families: Bloom bit leaves, KMV bottom-k
    leaves and HLL register leaves from the SAME events answer the SAME
    window set (engine-side sym-diffs). At 100 TB this is the
    partition-pruning index over a rolling horizon: "which of these
    keys could the last 7 days contain?" costs a bit-table range join,
    never an event re-scan."""
    ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    bleaves = op_sketches.bloom_leaf_bits(
        ev, "ts", "user_id"
    ).localCheckpoint(eager=True)
    report = op_sketches.bloom_sliding_probe_report(
        bleaves, ev, customer, "ts", "user_id", "c_custkey", 7, "day"
    )
    be = op_sliding.window_ends(bleaves)
    ke = op_sliding.window_ends(
        op_kmv.kmv_leaf_sketches(ev, "ts", "user_id", 32, "day")
    )
    he = op_sliding.window_ends(
        op_sketches.hll_leaf_registers(ev, "ts", "user_id", "day")
    )
    ends_ok = (
        _msdiff_rows(be, ke)
        .union(_msdiff_rows(be, he))
        .agg((F.count(F.lit(1)) == 0).alias("ends_consistent_3way"))
    )
    return report.crossJoin(ends_ok)


# ----------------------------------------------------------------------
# Public accessors (driver contract)
# ----------------------------------------------------------------------

_GREEN = ("rows_match", "schema_match", "hash_match")


def _stalest_first(by_name: dict, rows_by_round: dict[int, dict]) -> dict:
    """``by_name`` stably reordered by each name's latest round with a
    green row (``err`` null, every ``_GREEN`` flag true), never-green first."""
    last = {
        name: rnd
        for rnd, rows in sorted(rows_by_round.items())
        for name, row in rows.items()
        if row.get("err") is None and all(row.get(k) is True for k in _GREEN)
    }
    return dict(sorted(by_name.items(), key=lambda kv: last.get(kv[0], 0)))


def _correctness_rows(root: Path = Path(__file__).resolve().parents[1]) -> dict:
    """The driver's rows by round, from the repo root's ``CORRECTNESS_r{N}.json``
    files. An unreadable file counts as missing: its queries only look staler."""
    rows = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        try:
            rows[int(path.stem.split("_r")[-1])] = json.loads(path.read_text())
        except (OSError, ValueError):
            pass
    return rows


def queries() -> dict[str, QueryFn]:
    return _stalest_first({s.name: s.fn for s in REGISTRY}, _correctness_rows())


def oracle_sql() -> dict[str, str]:
    sql = {s.name: s.oracle for s in REGISTRY if s.oracle is not None}
    return _stalest_first(sql, _correctness_rows())
