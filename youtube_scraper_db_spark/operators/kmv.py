"""K-Minimum-Values (bottom-k / theta) distinct sketches — the set
algebra HyperLogLog cannot do.

HLL registers union perfectly but carry no sample, so they CANNOT
estimate intersections, differences, or Jaccard overlap. The KMV
sketch (Beyer et al., "On Synopses for Distinct-Value Estimation under
Multiset Operations", SIGMOD 2007 — the core of Apache DataSketches'
theta sketch) keeps the k smallest DISTINCT hash values of the key
set. Because the hashes are uniform on [0, 2^60), the k-th smallest
hash ``h_(k)`` estimates density: ``D ≈ (k-1)·2^60 / h_(k)``. Two
sketches compose by set algebra on the retained samples under the
shared threshold θ = min(θ_a, θ_b): every retained hash below θ is a
uniform sample of the UNION of the key spaces, so intersection /
union / Jaccard cardinalities all estimate as ``|sample| · 2^60 / θ``
— e.g. the semi-join cardinality ("how many customers placed orders")
without running the join.

Determinism/oracle contract (same device as the HLL/CMS/Bloom family,
operators/sketches.py): the hash is the first 60-bit md5 half
(functions/portable_hash.py), so DuckDB replays the ENTIRE sketch —
the retained hash set, the k-th order statistic, and therefore the
estimate and even its approximation error — value-for-value with
``md5_halves_sql`` (the SQL form of the same half) + ``ORDER BY h
LIMIT k``.

Group columns: the estimate (``kmv_estimate``) is one core with
``by`` — empty for the scalar sketch — as in operators/sketches.py.
The bottom-k BUILDERS stay two paths, ``kmv_sketch`` and
``kmv_sketch_grouped``, because they compile to different plans: the
scalar sketch caps the ≤ partitions·k survivors with a global
``orderBy().limit(k)`` behind a one-state Arrow kernel, the grouped
one with a per-group ``row_number`` window behind a per-group-state
kernel.

Scale shape: a per-partition Arrow kernel folds each partition's
hashes through an O(k) bottom-k state (map-only — raw keys never
shuffle); the union of partials is ≤ partitions·k rows, which a
distinct + order-statistic pass re-caps to the final k. Sketch tables
are O(k) regardless of input size; merges/folds/set-ops touch only
k-row tables. Bottom-k is a mergeable summary (the bottom-k of a
union equals the bottom-k of the per-part bottom-ks — order
statistics are associative under union), so sketches fold across
days/datasets/partitions exactly; the registry mergeability and
artifact-fold gates check that identity bit-for-bit. Production would
swap md5 → xxhash64 for throughput, keeping every plan identical.

Reference parity note: the reference system has no sketches at all —
its distinct counts are exact SQLite ``COUNT(DISTINCT …)`` scans
(e.g. display.py's playlist summaries). This module is part of the
LLM-data-pipeline extension surface: at 100 TB, overlap estimation
between corpus snapshots (decontamination, dedup-audit) cannot afford
the exact distinct join.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable_hash import md5_halves, md5_halves_sql
from . import sliding
from .sketches import _same_sql, _union_sql

#: Hash-space size: hashes are uniform 60-bit integers (md5 half).
KMV_SPACE = float(1 << 60)


def kmv_hash(key: Column) -> Column:
    """The sketch hash of one key — the first 60-bit md5 half of the
    key's string form (keys of any type hash identically in both
    engines after CAST → VARCHAR)."""
    h1, _ = md5_halves(key.cast("string"))
    return h1


def _bottomk_global(k: int):
    """mapInPandas kernel: fold one partition's ``h`` batches through a
    k-slot bottom-k-of-distinct state. np.unique both dedups and sorts,
    so the state after each batch is the sorted k smallest distinct
    hashes seen so far — O(k + batch) memory, C-speed, no per-row
    Python."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best = np.array([], dtype="int64")
        for pdf in batches:
            vals = pdf["h"].to_numpy(dtype="int64", copy=False)
            best = np.unique(np.concatenate([best, vals]))[:k]
        yield pd.DataFrame({"h": best})

    return fold


def _bottomk_grouped(k: int):
    """Grouped twin: one k-slot bottom-k state PER GROUP inside each
    partition — emits ≤ groups·k rows per partition. Group cardinality
    here is dimension-sized (event types, languages); per batch the
    work is one pandas groupby + per-group np.unique over the group's
    batch slice plus its ≤k-element state."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[str, np.ndarray] = {}
        for pdf in batches:
            for g, sub in pdf.groupby("g", sort=False):
                vals = sub["h"].to_numpy(dtype="int64", copy=False)
                prev = state.get(g)
                merged = vals if prev is None else np.concatenate([prev, vals])
                state[g] = np.unique(merged)[:k]
        yield pd.DataFrame(
            {
                "g": np.repeat(
                    np.array(list(state.keys()), dtype=object),
                    [len(v) for v in state.values()],
                ),
                "h": (
                    np.concatenate(list(state.values()))
                    if state
                    else np.array([], dtype="int64")
                ),
            }
        )

    return fold


def kmv_sketch(df: DataFrame, key: str, k: int) -> DataFrame:
    """The k smallest distinct 60-bit hashes of ``key`` — one ``h``
    column, ≤ k rows. Plan: hash projection (codegen) → per-partition
    Arrow bottom-k (map-only, O(k) state) → distinct + ordered limit
    over the ≤ partitions·k survivors."""
    proj = df.where(F.col(key).isNotNull()).select(
        kmv_hash(F.col(key)).alias("h")
    )
    partials = proj.mapInPandas(_bottomk_global(k), "h long")
    return partials.distinct().orderBy("h").limit(k)


def kmv_sketch_grouped(
    df: DataFrame, group_col: str, key: str, k: int
) -> DataFrame:
    """One KMV sketch PER GROUP — (g, h) with ≤ k rows per group, from
    one scan: per-partition grouped Arrow bottom-k, then a distinct +
    per-group row_number cap over the ≤ partitions·groups·k survivors
    (the window input is partial-sketch-sized, never data-sized)."""
    proj = df.where(
        F.col(key).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("g"),
        kmv_hash(F.col(key)).alias("h"),
    )
    partials = proj.mapInPandas(_bottomk_grouped(k), "g string, h long")
    w = Window.partitionBy("g").orderBy("h")
    return (
        partials.distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_merge(sa: DataFrame, sb: DataFrame, k: int) -> DataFrame:
    """Union-merge two sketches: bottom-k of the union of retained
    hashes. EXACTLY equals sketching the combined input (order
    statistics of a union depend only on the union's smallest k
    values, all of which each side retained) — the mergeability
    identity the ``kmv_union_merge`` registry gate checks."""
    return sa.unionByName(sb).distinct().orderBy("h").limit(k)


def _est_expr(size: Column, kth: Column, k: int) -> Column:
    """(k-1)·2^60 / h_(k) when the sketch is full; exact size when not
    (fewer than k distinct keys exist — the sketch IS the key set).
    Both branches rounded to 4dp so accumulation order can't flip the
    driver's value hash."""
    scale = float(k - 1) * KMV_SPACE
    return F.round(
        F.when(size < k, size.cast("double")).otherwise(
            F.lit(scale) / kth.cast("double")
        ),
        4,
    )


def kmv_estimate(sketch: DataFrame, k: int, by: Sequence[str] = ()) -> DataFrame:
    """(*by, estimate, sketch_size, kth_hash) per group of a sketch
    table — one row for the scalar sketch."""
    st = sketch.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("sketch_size"),
        F.max("h").alias("kth_hash"),
    )
    return st.select(
        *by,
        _est_expr(F.col("sketch_size"), F.col("kth_hash"), k).alias("estimate"),
        "sketch_size",
        "kth_hash",
    )


def kmv_theta(sketch: DataFrame, k: int) -> DataFrame:
    """One-row (theta,) — the sketch's inclusion threshold: every hash
    < theta in the keyed universe is retained. A full sketch's theta is
    its k-th smallest hash; a non-full sketch retained EVERYTHING, so
    theta is the whole hash space."""
    return sketch.agg(
        F.when(F.count(F.lit(1)) < k, F.lit(1 << 60))
        .otherwise(F.max("h"))
        .cast("long")
        .alias("theta")
    )


# --- DuckDB oracle twins ----------------------------------------------


def _h_sql(key: str) -> str:
    return md5_halves_sql(f"CAST({key} AS VARCHAR)")[0]


def kmv_bottomk_cte(name: str, table: str, key: str, where: str, k: int) -> str:
    """CTE: the k smallest distinct hashes of ``key`` rows matching
    ``where`` — the SQL twin of kmv_sketch."""
    w = f" AND ({where})" if where else ""
    return f"""
    {name} AS (
      SELECT h FROM (
        SELECT DISTINCT {_h_sql(key)} AS h
        FROM {table} WHERE {key} IS NOT NULL{w}
      ) ORDER BY h LIMIT {k}
    )"""


def _est_sql(size: str, kth: str, k: int) -> str:
    scale = float(k - 1) * KMV_SPACE
    return (
        f"ROUND(CASE WHEN {size} < {k} THEN CAST({size} AS DOUBLE) "
        f"ELSE CAST({scale!r} AS DOUBLE) / CAST({kth} AS DOUBLE) END, 4)"
    )


def _theta_sql(size: str, kth: str, k: int) -> str:
    return (
        f"CAST(CASE WHEN {size} < {k} THEN {1 << 60} ELSE {kth} END AS BIGINT)"
    )


def kmv_oracle_sql(table: str, key: str, k: int) -> str:
    """Replay of kmv_sketch + kmv_estimate + the exact witness."""
    return f"""
    WITH {kmv_bottomk_cte("bk", table, key, "", k)},
    st AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM bk)
    SELECT {_est_sql("n", "kth", k)} AS estimate,
           CAST(n AS BIGINT) AS sketch_size,
           CAST(kth AS BIGINT) AS kth_hash,
           (SELECT CAST(count(DISTINCT {key}) AS BIGINT)
            FROM {table} WHERE {key} IS NOT NULL) AS exact_distinct
    FROM st
    """


def kmv_grouped_oracle_sql(table: str, group_col: str, key: str, k: int) -> str:
    """Replay of kmv_sketch_grouped + kmv_estimate per group + per-group
    exact witnesses."""
    return f"""
    WITH hs AS (
      SELECT DISTINCT CAST({group_col} AS VARCHAR) AS g, {_h_sql(key)} AS h
      FROM {table}
      WHERE {key} IS NOT NULL AND {group_col} IS NOT NULL
    ),
    bk AS (
      SELECT g, h FROM (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM hs
      ) WHERE rn <= {k}
    ),
    st AS (SELECT g, COUNT(*) AS n, MAX(h) AS kth FROM bk GROUP BY g),
    ex AS (
      SELECT CAST({group_col} AS VARCHAR) AS g,
             count(DISTINCT {key}) AS exact_distinct
      FROM {table}
      WHERE {key} IS NOT NULL AND {group_col} IS NOT NULL GROUP BY 1
    )
    SELECT st.g AS g, {_est_sql("n", "kth", k)} AS estimate,
           CAST(n AS BIGINT) AS sketch_size,
           CAST(kth AS BIGINT) AS kth_hash,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM st JOIN ex ON st.g = ex.g
    """


def kmv_union_merge_oracle_sql(table: str, key: str, half: str, k: int) -> str:
    """Replay of the mergeability gate: sketch each half of ``table``
    split by the ``half`` predicate, merge (bottom-k of the union of
    retained hashes), compare against the directly-built sketch —
    identical sets ⇒ merge_consistent, plus both estimates and the
    exact union count."""
    return f"""
    WITH {kmv_bottomk_cte("bka", table, key, half, k)},
    {kmv_bottomk_cte("bkb", table, key, f"NOT ({half})", k)},
    merged AS (
      SELECT h FROM (
        SELECT DISTINCT h FROM (SELECT h FROM bka UNION ALL SELECT h FROM bkb)
      ) ORDER BY h LIMIT {k}
    ),
    {kmv_bottomk_cte("direct", table, key, "", k)},
    mst AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM merged),
    dst AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM direct)
    SELECT {_est_sql("mst.n", "mst.kth", k)} AS est_merged,
           {_est_sql("dst.n", "dst.kth", k)} AS est_direct,
           CAST(mst.n AS BIGINT) AS sketch_size,
           {_same_sql("merged", "direct", "h")} AS merge_consistent,
           (SELECT CAST(count(DISTINCT {key}) AS BIGINT)
            FROM {table} WHERE {key} IS NOT NULL) AS exact_distinct
    FROM mst, dst
    """


def kmv_setops_oracle_sql(
    table_a: str, key_a: str, table_b: str, key_b: str, k: int
) -> str:
    """Replay of the theta set-ops gate: sketch A and B, θ = min of the
    two inclusion thresholds, every retained hash < θ is a uniform
    union sample — intersection / union / Jaccard estimates plus their
    exact witnesses."""
    return f"""
    WITH {kmv_bottomk_cte("bka", table_a, key_a, "", k)},
    {kmv_bottomk_cte("bkb", table_b, key_b, "", k)},
    sta AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM bka),
    stb AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM bkb),
    th AS (
      SELECT LEAST((SELECT {_theta_sql("n", "kth", k)} FROM sta),
                   (SELECT {_theta_sql("n", "kth", k)} FROM stb)) AS theta
    ),
    isect AS (
      SELECT COUNT(*) AS n FROM bka a JOIN bkb b ON a.h = b.h, th
      WHERE a.h < th.theta
    ),
    uni AS (
      SELECT COUNT(*) AS n FROM (
        SELECT DISTINCT h FROM (SELECT h FROM bka UNION ALL SELECT h FROM bkb)
      ) u, th WHERE u.h < th.theta
    )
    SELECT ROUND(CAST(isect.n AS DOUBLE) * CAST({KMV_SPACE!r} AS DOUBLE)
                 / CAST(th.theta AS DOUBLE), 4) AS est_intersection,
           ROUND(CAST(uni.n AS DOUBLE) * CAST({KMV_SPACE!r} AS DOUBLE)
                 / CAST(th.theta AS DOUBLE), 4) AS est_union,
           ROUND(CAST(isect.n AS DOUBLE) / CAST(uni.n AS DOUBLE), 4)
             AS jaccard_est,
           CAST(isect.n AS BIGINT) AS sample_intersection,
           CAST(uni.n AS BIGINT) AS sample_union,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT DISTINCT {key_a} AS x FROM {table_a}
              WHERE {key_a} IS NOT NULL
              INTERSECT
              SELECT DISTINCT {key_b} AS x FROM {table_b}
              WHERE {key_b} IS NOT NULL)) AS exact_intersection,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT DISTINCT {key_a} AS x FROM {table_a}
              WHERE {key_a} IS NOT NULL
              UNION
              SELECT DISTINCT {key_b} AS x FROM {table_b}
              WHERE {key_b} IS NOT NULL)) AS exact_union
    FROM th, isect, uni
    """


def kmv_artifact_oracle_sql(
    table: str, key: str, batch: str, k: int, check_mod: int
) -> str:
    """Replay of the artifact-fold gate: the saved sketch is the base
    split's bottom-k table; the new batch's sketch folds into the
    RELOADED table by kmv_merge, and the folded sketch must equal the
    directly-built full sketch hash-for-hash (bottom-k mergeability is
    exact). The saved table's canonical checksum replays too."""
    ctes = f"""{kmv_bottomk_cte("base", table, key, f"NOT ({batch})", k)},
    {kmv_bottomk_cte("nb", table, key, batch, k)},
    folded AS (
      SELECT h FROM (
        SELECT DISTINCT h FROM (SELECT h FROM base UNION ALL SELECT h FROM nb)
      ) ORDER BY h LIMIT {k}
    ),
    {kmv_bottomk_cte("direct", table, key, "", k)},
    fst AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM folded),
    dst AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM direct)"""
    cols = f"""{_est_sql("fst.n", "fst.kth", k)} AS folded_estimate,
           {_est_sql("dst.n", "dst.kth", k)} AS direct_estimate,
           {_same_sql("folded", "direct", "h")} AS fold_consistent,
           (SELECT CAST(count(DISTINCT {key}) AS BIGINT)
            FROM {table} WHERE {key} IS NOT NULL) AS exact_distinct"""
    art = ("base", "saved_size", "CAST(h AS VARCHAR)", check_mod)
    return _union_sql(ctes, cols, "fst, dst", art)


# --- Sliding windows over leaf sketches --------------------------------


def kmv_leaf_sketches(
    df: DataFrame, ts_col: str, key: str, k: int, grain: str = "day"
) -> DataFrame:
    """(leaf: timestamp, h): one KMV sketch per ``grain`` bucket of
    ``ts_col`` — the persisted leaf store a sliding-window sketch
    service keeps. O(leaves × k) rows whatever the event volume."""
    bucketed = df.withColumn("__leaf", F.date_trunc(grain, F.col(ts_col)))
    return kmv_sketch_grouped(bucketed, "__leaf", key, k).select(
        F.to_timestamp("g").alias("leaf"), "h"
    )


def kmv_sliding_estimates(
    leaves: DataFrame, k: int, width: int, grain: str = "day"
) -> DataFrame:
    """Per-window-end (wend, estimate, sketch_size, kth_hash) for every
    sliding window of ``width`` leaves ending at each leaf present in
    ``leaves`` (the output of ``kmv_leaf_sketches``).

    Exactness: bottom-k merge is exact, so the window sketch built by
    merging its leaves equals the sketch built directly from the
    window's raw events hash-for-hash — the oracle builds windows the
    direct way and the driver hash-compares. Shape: the range join runs
    on the ≤ leaves×k LEAF TABLE (never per-event work), the per-window
    re-cap is a dim-sized window function; generalizes round-10's fixed
    7-day/daily gate to any (grain, width) calendar. The ends
    derivation + range join is the shared spine (operators/sliding.py)."""
    dw = (
        sliding.window_leaves(leaves, width, grain)
        .select("wend", "h")
        .distinct()
    )
    w = Window.partitionBy("wend").orderBy("h")
    bk = (
        dw.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    return kmv_estimate(bk, k, ("wend",))


def sliding_exact_distinct(
    df: DataFrame, ts_col: str, key: str, width: int, grain: str = "day"
) -> DataFrame:
    """(wend, exact_distinct): the exact sliding-window distinct count —
    the accuracy witness. The range join runs over the DEDUPED
    (leaf, key) table, never raw events: at 100 TB the deduped table is
    bounded by |keys|·|leaves| while events grow without bound (this
    dedupe is what flattened the round-10 gate's ×20 probe, which
    range-joined raw events)."""
    lk = (
        df.where(F.col(key).isNotNull())
        .select(
            F.date_trunc(grain, F.col(ts_col)).alias("leaf"),
            F.col(key).alias("__k"),
        )
        .distinct()
    )
    return (
        sliding.window_leaves(lk, width, grain, broadcast_leaves=False)
        .groupBy("wend")
        .agg(F.countDistinct("__k").cast("long").alias("exact_distinct"))
    )


def kmv_sliding_oracle_sql(
    table: str, ts_col: str, key: str, k: int, width: int, grain: str = "day"
) -> str:
    """DuckDB replay of leaf-sketch + window merge + exact witness for
    any (grain, width) calendar. Column names match the engine side:
    (wend, estimate, sketch_size, kth_hash, exact_distinct)."""
    return f"""
    WITH ends AS (
      -- key-not-null matches the engine side, whose window ends come
      -- from the LEAF table (kmv_leaf_sketches drops null keys): a
      -- grain bucket whose keys are ALL null produces no leaf and so
      -- no window end on either side
      SELECT DISTINCT date_trunc('{grain}', {ts_col}) AS wend FROM {table}
      WHERE {ts_col} IS NOT NULL AND {key} IS NOT NULL
    ),
    hs AS (
      SELECT DISTINCT date_trunc('{grain}', {ts_col}) AS leaf,
             {_h_sql(key)} AS h
      FROM {table} WHERE {key} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    dw AS (
      SELECT DISTINCT ends.wend, hs.h
      FROM ends JOIN hs
        ON hs.leaf BETWEEN ends.wend - INTERVAL {width - 1} {grain}
                       AND ends.wend
    ),
    bk AS (
      SELECT wend, h FROM (
        SELECT wend, h, row_number() OVER (PARTITION BY wend ORDER BY h)
                 AS rn
        FROM dw
      ) WHERE rn <= {k}
    ),
    st AS (SELECT wend, COUNT(*) AS n, MAX(h) AS kth FROM bk GROUP BY wend),
    lk AS (
      SELECT DISTINCT date_trunc('{grain}', {ts_col}) AS leaf, {key} AS kk
      FROM {table} WHERE {key} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    ex AS (
      SELECT ends.wend, count(DISTINCT lk.kk) AS exact_distinct
      FROM ends JOIN lk
        ON lk.leaf BETWEEN ends.wend - INTERVAL {width - 1} {grain}
                       AND ends.wend
      GROUP BY ends.wend
    )
    SELECT CAST(st.wend AS TIMESTAMP) AS wend,
           {_est_sql("st.n", "st.kth", k)} AS estimate,
           CAST(st.n AS BIGINT) AS sketch_size,
           CAST(st.kth AS BIGINT) AS kth_hash,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM st JOIN ex ON ex.wend = st.wend
    """
