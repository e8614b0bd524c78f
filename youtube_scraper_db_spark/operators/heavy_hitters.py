"""Exact heavy hitters in two bounded-memory passes — Misra-Gries
candidate generation per partition, then an exact recount of candidates
only.

The problem at 100 TB: "which words occur in more than 1/k of all token
positions" via a full groupBy shuffles the ENTIRE vocabulary (billions
of rare keys) to answer a question about at most k-1 keys. The classic
fix (Misra-Gries 1982, the deterministic frequent-items summary):

1. Each partition streams its items through a k-slot counter summary —
   O(k) memory, one pass, no shuffle. Guarantee: any item whose count
   in that partition exceeds N_p/k survives the partition's summary.
   By pigeonhole, a GLOBAL heavy hitter (count > N/k = Σ N_p/k) must
   exceed N_p/k in at least one partition, so the union of per-partition
   candidate sets is a SUPERSET of the true heavy hitters — at most
   (k-1) × partitions candidates, tiny.
2. Exact counts for candidates only: semi-join the corpus against the
   broadcast candidate set and count — the shuffle now carries only
   candidate keys.

Result is EXACT (the summary only generates candidates; the recount
decides), with the full-vocabulary exchange replaced by a broadcast +
a candidates-only aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sliding


def _mg_summary(items: Iterator[pd.DataFrame], col: str, k: int) -> Iterator[pd.DataFrame]:
    """Fold all Arrow batches of one partition through a (k-1)-slot
    Misra-Gries summary, VECTORIZED per batch (the mergeable-summaries
    batch rule — Agarwal et al. 2012: add the batch's value counts,
    then subtract the k-th largest counter from all and drop the
    non-positive — preserves the N_p/k error bound, so the candidate
    superset guarantee holds). Per batch this is a value_counts + an
    nlargest over at most |summary| + |batch vocab| keys, all C-speed;
    no per-token Python. Emits the RESIDUAL counters alongside the
    candidate words — the recount path ignores them; the merge path
    (``mg_combine_summaries``) is built on them."""
    counters = pd.Series(dtype="int64")
    for pdf in items:
        # int64 end to end (same rule as the streaming twin,
        # streaming/heavy_hitters.py): Series.add with fill_value
        # upcasts to float64 DURING the add, so a counter past 2^53
        # would lose precision before any astype — reindex both sides
        # to the union index and add as int64 instead.
        vc = pdf[col].value_counts().astype("int64")
        idx = counters.index.union(vc.index)
        counters = counters.reindex(idx, fill_value=0) + vc.reindex(
            idx, fill_value=0
        )
        if len(counters) > k - 1:
            kth = counters.nlargest(k).iloc[-1]
            counters = counters - kth
            counters = counters[counters > 0]
    yield pd.DataFrame(
        {col: counters.index.astype(str), "cnt": counters.to_numpy()}
    )


def _mg_summary_grouped(
    items: Iterator[pd.DataFrame], gcol: str, col: str, k: int
) -> Iterator[pd.DataFrame]:
    """One (k-1)-slot Misra-Gries summary PER GROUP inside each
    partition — the ``_mg_summary`` fold with a (group, value)
    MultiIndex and a per-group trim. The invariant k·err_g ≤ N_g −
    Σcounters_g holds independently per group (a trim only touches its
    own group's counters), so each group's candidate set is a superset
    of that group's heavy hitters by the same pigeonhole. Memory is
    O(groups-in-partition × k)."""
    counters = pd.Series(
        dtype="int64",
        index=pd.MultiIndex.from_arrays([[], []], names=[gcol, col]),
    )
    for pdf in items:
        vc = pdf.groupby([gcol, col]).size().astype("int64")
        idx = counters.index.union(vc.index)
        counters = counters.reindex(idx, fill_value=0) + vc.reindex(
            idx, fill_value=0
        )
        sizes = counters.groupby(level=0).size()
        if (sizes > k - 1).any():
            # Vectorized per-group trim (no per-group Python loop — cost
            # would grow O(groups × |counters|) at high group
            # cardinality): the k-th largest value per group is row k-1
            # of the descending-sorted series within its group, and
            # nth(k-1) exists EXACTLY for the over-full groups (size ≥
            # k); everyone else subtracts 0. One group-level int64
            # subtraction — no float upcast (the round-8 Series.add
            # lesson), no positional assignment.
            kth = (
                counters.sort_values(ascending=False)
                .groupby(level=0)
                .nth(k - 1)
                .droplevel(1)
                .reindex(sizes.index, fill_value=0)
            )
            counters = counters.sub(kth, level=0).astype("int64")
        counters = counters[counters > 0]
    yield pd.DataFrame(
        {
            gcol: counters.index.get_level_values(0).astype(str),
            col: counters.index.get_level_values(1).astype(str),
            "cnt": counters.to_numpy(),
        }
    )


def exact_heavy_hitters_grouped(
    items: DataFrame, gcol: str, col: str, k: int = 16
) -> DataFrame:
    """Per-GROUP heavy hitters: all values of ``col`` occurring in MORE
    than 1/``k`` of their group's rows, exact. Columns: (gcol, col,
    cnt, n_group). The grouped member of the MG family (grouped HLL
    counts distinct per dimension; this finds the dominant VALUES per
    dimension) — candidate generation stays map-only with O(groups × k)
    state per task, and the recount shuffle carries only candidate
    (group, value) pairs plus a groups-sized total table, never the
    full per-group vocabulary. ``src`` is materialized: it feeds the
    kernel, the recount and the totals (three upstream runs when
    lazy)."""
    src = items.select(gcol, col).localCheckpoint(eager=True)
    cands = (
        src.mapInPandas(
            lambda it: _mg_summary_grouped(it, gcol, col, k),
            schema=f"{gcol} string, {col} string, cnt long",
        )
        .select(gcol, col)
        .distinct()
    )
    counted = (
        src.join(F.broadcast(cands), [gcol, col], "left_semi")
        .groupBy(gcol, col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = src.groupBy(gcol).agg(F.count(F.lit(1)).alias("n_group"))
    return (
        counted.join(F.broadcast(totals), gcol)
        .filter(F.col("cnt") * k > F.col("n_group"))
        .select(
            gcol,
            col,
            F.col("cnt").cast("long").alias("cnt"),
            F.col("n_group").cast("long").alias("n_group"),
        )
    )


def recount_candidates(
    src: DataFrame, cands: DataFrame, col: str, k: int
) -> DataFrame:
    """Stage 2 shared by the batch and streaming forms: exact counts
    for the (broadcast) candidate set only, integer threshold
    cnt·k > n_total. As long as ``cands`` is a SUPERSET of the true
    heavy hitters, the output is exact."""
    counted = (
        src.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
    )
    total = src.agg(F.count("*").alias("n_total"))
    return (
        counted.crossJoin(total)
        .filter(F.col("cnt") * k > F.col("n_total"))
        .select(col, F.col("cnt").cast("long").alias("cnt"),
                F.col("n_total").cast("long").alias("n_total"))
    )


def mg_partition_summaries(src: DataFrame, col: str, k: int) -> DataFrame:
    """One (k-1)-slot Misra-Gries summary PER PARTITION, with residual
    counters: ``(col, cnt)`` — map-only, O(k) memory per task, the
    mergeable-summary unit everything else composes from."""
    return src.select(col).mapInPandas(
        lambda it: _mg_summary(it, col, k),
        schema=f"{col} string, cnt long",
    )


def mg_combine_summaries(summaries: DataFrame, col: str, k: int) -> DataFrame:
    """Reduce ANY number of MG summaries into one (k-1)-slot summary:
    sum residual counters on the union support (one keyed aggregate over
    ≤ (k-1) × summaries rows — tiny), then subtract the k-th largest
    combined counter from all and drop the non-positive (one trim).

    Soundness (the mergeable-summaries invariant, Agarwal et al. 2012):
    each input summary maintains k·error ≤ N_i − Σcounters_i; summing
    counters sums both sides, and the trim subtracts v from ≥ k counters
    (v IS the k-th largest), removing ≥ k·v of counter mass — so
    k·error ≤ N − Σcounters survives the combine, every value with true
    count > N/k keeps a positive residual, and the combined candidate
    set stays a SUPERSET of the true heavy hitters. This is why a
    month's summary can fold into a year's without re-reading the
    corpus (``heavy_hitter_merge`` gates it). The trim fires only when
    more than k-1 counters survive the sum (same condition as the
    per-partition rule)."""
    # materialized: the summed support feeds the k-th-counter probe AND
    # the trim — lazy, the entire upstream summary pipeline (an MG
    # kernel pass over the source, or a previous combine) runs twice
    # per consumer, and nested combines compound that doubling. The
    # table is ≤ (k-1) × summaries rows, so the cut is ~free.
    added = summaries.groupBy(col).agg(F.sum("cnt").alias("cnt")).localCheckpoint(
        eager=True
    )
    kth = (
        added.orderBy(F.desc("cnt"), F.asc(col))
        .limit(k)
        .agg(
            F.when(F.count(F.lit(1)) >= k, F.min("cnt"))
            .otherwise(F.lit(0))
            .alias("__kth")
        )
    )
    return (
        added.crossJoin(F.broadcast(kth))
        .select(col, (F.col("cnt") - F.col("__kth")).alias("cnt"))
        .filter(F.col("cnt") > 0)
    )


def exact_heavy_hitters(
    items: DataFrame, col: str, k: int = 16
) -> DataFrame:
    """All values of ``col`` occurring in MORE than 1/``k`` of all rows,
    with exact counts. Columns: (col, cnt, n_total).

    The threshold compare is integer (cnt * k > n_total) — no division,
    no float, engine-exact."""
    # materialized: src feeds the MG kernel, the candidate recount AND
    # the total — lazy, the upstream (often a corpus tokenize+explode)
    # runs three times
    src = items.select(col).localCheckpoint(eager=True)
    cands = mg_partition_summaries(src, col, k).select(col).distinct()
    return recount_candidates(src, cands, col, k)


def mg_leaf_summaries(
    df: DataFrame, ts_col: str, key: str, k: int, grain: str = "day"
) -> DataFrame:
    """(leaf: timestamp, key, cnt): one (k-1)-slot Misra-Gries summary
    per ``grain`` bucket of ``ts_col`` — the persisted leaf store of a
    sliding-window heavy-hitter service (the KMV/HLL twins are
    operators/kmv.py / operators/sketches.py leaf builders). Map-only,
    O(leaves-in-partition × k) state, O(leaves × k) output rows."""
    src = df.select(
        F.date_trunc(grain, F.col(ts_col)).cast("string").alias("__leaf"),
        F.col(key).cast("string").alias(key),
    )
    out = src.mapInPandas(
        lambda it: _mg_summary_grouped(it, "__leaf", key, k),
        schema=f"__leaf string, {key} string, cnt long",
    )
    return out.select(
        F.to_timestamp("__leaf").alias("leaf"), key, "cnt"
    )


def mg_sliding_heavy_hitters(
    df: DataFrame,
    ts_col: str,
    key: str,
    k: int,
    width: int,
    grain: str = "day",
) -> DataFrame:
    """(wend, key, cnt, n_total): EXACT per-window heavy hitters (count
    × k > window total) for every sliding window of ``width`` leaves,
    candidates drawn from the UNION of the window's leaf summaries.

    Superset proof (averaging): if cnt_w(h) > N_w/k with cnt_w = Σ_leaf
    cnt and N_w = Σ_leaf N, some leaf must satisfy cnt_leaf(h) >
    N_leaf/k — otherwise summing the per-leaf inequalities bounds
    cnt_w ≤ N_w/k. Each leaf's MG summary contains every such key, so
    the union over the window's leaves is a candidate SUPERSET and the
    recount output is exact. The recount range-joins the per-leaf
    EXACT count table (≤ |keys|·|leaves| rows, aggregated once — never
    raw events per window); candidates are ≤ leaves × (k-1) rows. All
    three range joins share one spine (operators/sliding.py)."""
    # both dim-bounded frames are materialized: ``leaves`` (the MG
    # kernel over raw events) feeds the ends AND the candidate join —
    # lazy, the kernel pass runs twice; ``lk`` (the per-leaf exact
    # count, the other raw-event aggregate) feeds the recount AND the
    # totals — lazy, the event scan runs twice
    leaves = mg_leaf_summaries(df, ts_col, key, k, grain).localCheckpoint(
        eager=True
    )
    ends = sliding.window_ends(leaves)
    cands = (
        sliding.window_leaves(leaves, width, grain, ends=ends)
        .select("wend", key)
        .distinct()
    )
    lk = (
        df.where(F.col(key).isNotNull())
        .groupBy(
            F.date_trunc(grain, F.col(ts_col)).alias("leaf"),
            F.col(key).cast("string").alias(key),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    window_counts = (
        sliding.window_leaves(
            lk, width, grain, ends=ends, broadcast_leaves=False
        )
        .groupBy("wend", key)
        .agg(F.sum("cnt").alias("cnt"))
        .join(F.broadcast(cands), ["wend", key], "left_semi")
    )
    totals = (
        sliding.window_leaves(
            lk.groupBy("leaf").agg(F.sum("cnt").alias("n")),
            width,
            grain,
            ends=ends,
            broadcast_leaves=False,
        )
        .groupBy("wend")
        .agg(F.sum("n").alias("n_total"))
    )
    return (
        window_counts.join(F.broadcast(totals), "wend")
        .filter(F.col("cnt") * k > F.col("n_total"))
        .select(
            "wend",
            key,
            F.col("cnt").cast("long").alias("cnt"),
            F.col("n_total").cast("long").alias("n_total"),
        )
    )
