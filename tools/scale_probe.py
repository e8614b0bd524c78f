"""Scale probe — measure how the heavy operators behave when the driver
testdata is replicated N× (default 20×), as evidence for the "would this
plan survive 100×?" question the per-SF bench can't answer.

Replication is growth-shaped, not copy-shaped:
- events: each copy offsets event_id and user_id, so user cardinality
  grows with volume (per-user density constant — windows and band joins
  scale by users, the realistic axis).
- documents: each copy offsets doc_id and prefixes every token with a
  copy tag, so shingle spaces are disjoint across copies — corpus size
  grows with a CONSTANT near-dup rate instead of the quadratic cross-copy
  dup blowup naive replication would fabricate.

Each probed query runs twice (min taken) at 1× and at N× from parquet on
disk; the report prints time ratio vs the N× volume ratio. Ratios near N
(or below, where fixed overhead amortizes) mean linear scaling; ratios
well above N flag a super-linear stage.

Usage: python tools/scale_probe.py [--factor 20] [--sf /root/testdata/sf0.1]
Writes SCALE_PROBE.md at the repo root.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from youtube_scraper_db_spark.io import read_table  # noqa: E402
from youtube_scraper_db_spark.registry import REGISTRY  # noqa: E402
from youtube_scraper_db_spark.session import get_spark, time_noop_run  # noqa: E402
from youtube_scraper_db_spark.streaming.drain import scratch_dir  # noqa: E402

EVENT_QUERIES = [
    "event_daily_rollup",
    "event_user_moving_avg",
    "event_value_delta",
    "event_neighbor_counts",
    "sessionized_events",
    "event_funnel",
    "daily_event_counts_dense",
    # round 7: sketch state must stay O(sketch) while input grows —
    # these ratios read as "scan cost", never "state cost"
    "cms_union_merge",
    "stream_hll_distinct_users",
    "stream_cms_user_counts",
    "histogram_quantile_sketch",
    # round 8: streaming histogram — O(64) state while input grows
    "stream_histogram_quantiles",
    # round 8: range-shard map stays 64 broadcast rows while input grows
    "histogram_range_shards",
    # round 9: sketch artifacts — the saved table stays O(sketch) while
    # input grows; the fold is a sketch-sized join (ratio = scan cost)
    "hll_artifact_fold_roundtrip",
    "cms_artifact_fold_roundtrip",
    "histogram_artifact_frozen_fold",
    # round 9: grouped sketches — state O(groups × sketch) while the
    # event volume (and user cardinality) grows
    "hll_distinct_users_by_type",
    "event_value_quantiles_by_type",
    # round 10: grouped CMS counters / grouped Bloom bits — state
    # O(groups × sketch) while event volume and user cardinality grow
    "cms_user_counts_by_type",
    "bloom_filter_by_type",
    # round 10: KMV / theta sketches — bottom-k state stays O(k)
    # (global) / O(groups × k) (grouped) while event volume and user
    # cardinality grow; merge/fold touch only k-row tables
    "kmv_distinct_users",
    "kmv_distinct_users_by_type",
    "kmv_union_merge",
    "kmv_artifact_fold_roundtrip",
    # round 10: time-series analytics — output stays O(types × days) /
    # O(types²) / O(types) while event volume grows; the only
    # fact-sized work is one aggregate (locf/ewma/ols/entropy) or one
    # user-keyed window (transitions)
    "event_value_locf",
    "event_value_ewma",
    "event_type_transitions",
    "event_ols_trend",
    "event_type_entropy",
    # round 10: streaming KMV folds O(k) state per micro-batch; the
    # grouped→global rollup touches only groups×k sketch rows
    "stream_kmv_distinct_users",
    "kmv_rollup_merge",
    # round 10: CUSUM is one aggregate + a dim window (O(types×days))
    "event_value_cusum",
    # round 10: SCD2 is two windows over one user-keyed shuffle,
    # output O(status-changes)
    "user_status_scd2",
    # round 10: sliding distinct from daily leaf sketches — the merge
    # touches days×k sketch rows; only the exact witness scans events
    "kmv_sliding_distinct_users",
    # round 11: the (grain,width)-parameterized calendars — window
    # merges touch O(days×k) / O(days×2^p) leaf rows; the exact witness
    # now range-joins deduped user-days, never raw events
    "kmv_sliding_distinct_users_30d",
    "hll_sliding_distinct_users",
    "heavy_hitter_types_sliding",
    "event_value_quantiles_sliding",
    # round 11: bloom-pruned joins — the mask stays O(m_bits) while the
    # fact side grows; ratios read as scan+shuffle-of-matches cost
    # (lineitem/orders now replicate with consistent FKs)
    "bloom_pruned_join",
    "bloom_pruned_anti_join",
    "bloom_mask_union_merge",
    # round 11: grouped skyline — thresholds stay O(brands×64) while
    # rows per brand grow; recheck is frontier-superset-sized
    "pareto_frontier_by_brand",
    # round 12: both sliding families + the ends sym-diff over the same
    # dim-bounded leaf tables (the kmv/hll sliding cost shapes)
    "sliding_spine_consistency",
    # round 13: the fifth spine family — window bit-union touches
    # O(days × m_bits) leaf rows; the probe grid is dim × dim; only the
    # exact witness range-joins deduped user-days
    "bloom_sliding_membership",
]
#: queries probed over the replicated embeddings table (vec_id offsets
#: per copy — vector count grows 20×, dim and label space fixed).
EMB_QUERIES = [
    # map-only frozen-centroid assignment + nprobe-pruned re-rank; the
    # streaming twin adds 4 foreachBatch appends (all batch-sized)
    "ivf_ann_topk",
    "stream_ivf_ingest",
    # the gate's graph build pins 8 planes for oracle replay; probing
    # THAT configuration at x20 volume would measure a deliberately
    # undersized index (copy-shaped, like cross-copy near-dups), so the
    # probe runs the operator the way its contract sizes it — planes
    # grow with log2(corpus), holding per-bucket population (and
    # cost-per-vector) constant. See _graph_ann_adaptive below.
    "graph_ann_adaptive_planes",
    # the incremental fold, also probed at the contract's plane count —
    # recomputes only the batch's (family, bucket) cells over the union.
    # The GATES (incremental_nsw_equiv, nsw_index_artifact_roundtrip,
    # stream_nsw_ingest, stream_nsw_delete_equiv) pin 8 planes for
    # oracle replay and are deliberately NOT probed at ×20: measured
    # once for the record (BENCH_DRIFT round-12), the 8-plane build at
    # 40k vectors is ~31× — the expected Θ(n²/buckets) of an index
    # sized for 2k vectors, the same copy-shaped distortion the
    # disjoint-shingle document replication exists to avoid. The
    # adaptive probes here are the sized-index numbers for the same
    # build / fold / delete code paths.
    "graph_ann_adaptive_fold",
    # round 13: IVF tombstone delete — per-batch tombstone append +
    # broadcast anti-join at read; the witness rebuilds on remaining
    "stream_ivf_delete_equiv",
    # round 13: compaction — one live-view rewrite (scan-shaped) +
    # manifest/GC driver-side bookkeeping
    "store_compaction_equiv",
    # round 13: the NSW delete fold at the contract's plane count —
    # recompute only the deleted rows' cells over the remaining corpus
    "graph_ann_adaptive_delete",
]


def _graph_ann_adaptive(spark, sf_dir: str):
    """nsw_edges + nsw_search with the plane count the operator contract
    prescribes at the given corpus size: fam_bits = log2(n / 32) → ~32
    vectors per bucket at ANY volume (HNSW's n·log n build discipline,
    llm/graph_ann.py nsw_edges docstring)."""
    import math

    from youtube_scraper_db_spark.llm import graph_ann as ga
    from youtube_scraper_db_spark.llm.similarity import as_double

    e = read_table(spark, sf_dir, "embeddings")
    n = e.count()
    fam_bits = max(4, math.ceil(math.log2(max(2, n // 32))))
    edges = ga.nsw_edges(
        e, m_neighbors=12, n_planes=2 * fam_bits
    ).localCheckpoint(eager=True)
    q = e.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qv")
    )
    return ga.nsw_search(edges, e, q, beam=32, hops=4)


def _graph_ann_adaptive_fold(spark, sf_dir: str):
    """nsw_fold_directed at the contract's plane count: fold the
    vec_id%5==4 batch into the base graph, search the folded result —
    per-batch cost ∝ the touched cells' population at ANY volume."""
    import math

    from youtube_scraper_db_spark.llm import graph_ann as ga
    from youtube_scraper_db_spark.llm.similarity import as_double

    e = read_table(spark, sf_dir, "embeddings")
    n = e.count()
    n_planes = 2 * max(4, math.ceil(math.log2(max(2, n // 32))))
    base = e.filter(F.col("vec_id") % 5 != 4)
    batch = e.filter(F.col("vec_id") % 5 == 4)
    d_old = ga.nsw_directed_edges(
        ga.nsw_bucketed(base, n_planes=n_planes), 12
    ).localCheckpoint(eager=True)
    d_inc = ga.nsw_fold_directed(
        d_old, e, batch, m_neighbors=12, n_planes=n_planes
    )
    edges = ga.nsw_symmetrize(d_inc).localCheckpoint(eager=True)
    q = e.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qv")
    )
    return ga.nsw_search(edges, e, q, beam=32, hops=4)


def _graph_ann_adaptive_delete(spark, sf_dir: str):
    """nsw_apply_deletes at the contract's plane count: delete the
    vec_id%7==3 rows from the full graph, search the folded result —
    per-delete-batch cost ∝ the deleted rows' cells' population at ANY
    volume (the fold probe's mirror image)."""
    import math

    from youtube_scraper_db_spark.llm import graph_ann as ga
    from youtube_scraper_db_spark.llm.similarity import as_double

    e = read_table(spark, sf_dir, "embeddings")
    n = e.count()
    n_planes = 2 * max(4, math.ceil(math.log2(max(2, n // 32))))
    deleted = e.filter(F.col("vec_id") % 7 == 3)
    remaining = e.filter(F.col("vec_id") % 7 != 3)
    d_full = ga.nsw_directed_edges(
        ga.nsw_bucketed(e, n_planes=n_planes), 12
    ).localCheckpoint(eager=True)
    d_del = ga.nsw_apply_deletes(
        d_full, remaining, deleted, m_neighbors=12, n_planes=n_planes
    )
    edges = ga.nsw_symmetrize(d_del).localCheckpoint(eager=True)
    q = e.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qv")
    )
    return ga.nsw_search(edges, remaining, q, beam=32, hops=4)


class _ProbeSpec:
    """Probe-only callable wrapper with the registry spec's (name, fn)
    surface — for operator configurations the oracle gates can't pin
    (e.g. the adaptive plane count)."""

    def __init__(self, name, fn):
        self.name, self.fn = name, fn


EXTRA_SPECS = {
    "graph_ann_adaptive_planes": _ProbeSpec(
        "graph_ann_adaptive_planes", _graph_ann_adaptive
    ),
    "graph_ann_adaptive_fold": _ProbeSpec(
        "graph_ann_adaptive_fold", _graph_ann_adaptive_fold
    ),
    "graph_ann_adaptive_delete": _ProbeSpec(
        "graph_ann_adaptive_delete", _graph_ann_adaptive_delete
    ),
}
DOC_QUERIES = [
    "doc_token_stats",
    "exact_dedup_docs",
    "ngram_jaccard_pairs",
    "minhash_lsh_dups",
    "simhash_dups",
    "decontamination_flags",
    "near_dup_clusters",
    "doc_repetition_stats",
    "substring_dup_flags",
    "corpus_curation_report",
    "doc_unigram_rarity",
    "doc_tfidf_terms",
    "segment_dedup_docs",
    "bpe_pair_counts",
    "bpe_trained_merges",
    "bpe_apply_tokens",
    "unigram_trained_vocab",
    "unigram_apply_tokens",
    "html_text_extract",
    # round 7
    "wordpiece_trained_merges",
    "wordpiece_apply_tokens",
    "doc_bigram_quality",
    # round 8: one more backoff order (trigram model tables stay
    # type-counted) and the persistence round-trips (vocab-bounded
    # train + commit + reload + two held-out apply passes — the ratio
    # reads as scan cost, the artifact cost is corpus-independent)
    "doc_trigram_quality",
    "bpe_artifact_roundtrip",
    "wordpiece_artifact_roundtrip",
    # round 8 (late): streaming MG state is O(buckets·k) while the
    # vocabulary grows with the disjoint-copy corpus; tfidf pair space
    # is held subquadratic by the df prune
    "stream_heavy_hitter_words",
    "tfidf_cosine_pairs",
    # round 9: the MG merge is two O(k) summaries + one trim (ratio =
    # scan cost); the CC fold's contracted graph is batch-bounded; the
    # trigram artifact is three vocab-bounded commits + reload + rescore
    "heavy_hitter_merge",
    "incremental_cc_equiv",
    "trigram_model_artifact_roundtrip",
    "incremental_trigram_model_equiv",
    "heavy_hitter_artifact_fold",
    "heavy_hitter_words_by_lang",
    # round 10: the LSH index artifact is O(docs × bands) rows; the
    # fold signs/bands only the batch — both ratios read as scan cost
    "minhash_index_artifact_roundtrip",
    "incremental_minhash_equiv",
    # round 10: each micro-batch fold is two keyed joins over the batch
    # + CC on the batch-bounded contracted graph
    "stream_cc_labels",
    # round 10: per-shard top-k state is O(k); the merge re-ranks 2k
    # rows — ratio reads as scan cost
    "weighted_sample_merge",
    # round 10: per-batch cost is one keyed join against the band
    # store + a batch self-join; history never re-shingled
    "stream_lsh_ingest_dups",
    # round 10: one stratum-keyed window, O(k) survivors per group
    "weighted_sample_by_source",
    # round 10: trigram search touches only the query's posting lists
    # after one explode shuffle; triangles' wedge join is bounded by
    # degree-ordered orientation (out-degree O(√m))
    "trigram_search_docs",
    "near_dup_triangles",
    # round 10: the posting-index artifact is O(docs × grams) rows but
    # the fold signs only the batch; BM25 prunes the token explode to
    # the query terms; local CC shares the triangle join bounds
    "trigram_index_artifact_roundtrip",
    "bm25_search_scores",
    "node_clustering_coefficients",
    # round 10: BM25 index fold — tf/dl append, df/stats merge by
    # integer addition; both paths built for the equivalence witness
    "bm25_index_artifact_fold",
    # round 11: streaming A-Res reservoir — per-batch rank + ≤2k-row
    # re-rank; state O(k) while the corpus grows
    "stream_weighted_sample",
    # round 13: LSH tombstone delete — a tombstone append + broadcast
    # anti-joins at read; the equivalence witness rebuilds sigs/bands
    # on the remaining docs (scan-shaped)
    "stream_lsh_delete_equiv",
]
#: queries probed under a skewed key distribution (--skew): each groups
#: or joins on the key a hot entity owns ~20% of.
SKEW_QUERIES = [
    "salted_supplier_revenue",  # fact⋈dim join on l_suppkey (salted)
    "event_funnel",             # keyed window sort on user_id
    "top_orders_per_customer",  # grouped top-k on o_custkey
    "classic_q21_waiting_supplier",  # semi+anti self-joins on l_orderkey, supplier agg on the hot key
]


def build_scaled(spark, sf_dir: str, factor: int) -> str:
    out = scratch_dir(f"sg_scale_x{factor}_")
    ev = read_table(spark, sf_dir, "events")
    ev_max_id = ev.agg(F.max("event_id")).first()[0] + 1
    ev_max_user = ev.agg(F.max("user_id")).first()[0] + 1
    copies = []
    for i in range(factor):
        copies.append(
            ev.select(
                (F.col("event_id") + F.lit(i * ev_max_id)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(i * ev_max_user)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    scaled_ev = copies[0]
    for c in copies[1:]:
        scaled_ev = scaled_ev.unionAll(c)
    scaled_ev.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )

    docs = read_table(spark, sf_dir, "documents")
    d_max_id = docs.agg(F.max("doc_id")).first()[0] + 1
    dcopies = []
    for i in range(factor):
        dcopies.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * d_max_id)).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"c{i}$1").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    scaled_d = dcopies[0]
    for c in dcopies[1:]:
        scaled_d = scaled_d.unionAll(c)
    scaled_d.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )

    # round 11: lineitem/orders grow with CONSISTENT FKs (both keyed
    # offsets use max(o_orderkey), so every scaled line still joins its
    # scaled order) — the bloom-pruned join/anti-join probe axis; part
    # grows under FIXED p_brand values (catalog families constant, rows
    # per family grow — the grouped-skyline probe axis).
    od = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    od_off = od.agg(F.max("o_orderkey")).first()[0] + 1
    _replicate(
        li, factor,
        {"l_orderkey": od_off, "l_partkey": 0, "l_suppkey": 0,
         "l_linenumber": 0, "l_quantity": 0, "l_extendedprice": 0,
         "l_discount": 0, "l_tax": 0, "l_returnflag": 0,
         "l_linestatus": 0, "l_shipdate": 0},
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "lineitem.parquet")
    )
    _replicate(
        od, factor,
        {"o_orderkey": od_off, "o_custkey": 0, "o_orderstatus": 0,
         "o_totalprice": 0, "o_orderdate": 0, "o_orderpriority": 0},
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "orders.parquet")
    )
    pt = read_table(spark, sf_dir, "part")
    _replicate(
        pt, factor,
        {"p_partkey": pt.agg(F.max("p_partkey")).first()[0] + 1,
         "p_name": 0, "p_brand": 0, "p_type": 0, "p_size": 0,
         "p_retailprice": 0},
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "part.parquet")
    )

    # round 12: embeddings grow by vec_id offsets (vector count is the
    # ANN axis; dim and label space stay fixed) — feeds the IVF ingest
    # and adaptive-plane graph probes
    emb = read_table(spark, sf_dir, "embeddings")
    _replicate(
        emb, factor,
        {"vec_id": emb.agg(F.max("vec_id")).first()[0] + 1,
         "embedding": 0, "label": 0},
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    # dims probed against the scaled facts ride through UNSCALED — the
    # realistic axis is facts growing under a fixed dimension table
    for dim in ("customer",):
        read_table(spark, sf_dir, dim).write.mode("overwrite").parquet(
            os.path.join(out, f"{dim}.parquet")
        )
    return out


def _replicate(df, factor: int, offsets: dict[str, object]):
    """Union ``factor`` copies, offsetting each key column by
    copy_index * offset so entity cardinality grows with volume."""
    copies = []
    for i in range(factor):
        cols = [
            (F.col(c) + F.lit(i * off)).alias(c) if off else F.col(c)
            for c, off in offsets.items()
        ]
        copies.append(df.select(*cols))
    out = copies[0]
    for c in copies[1:]:
        out = out.unionAll(c)
    return out


def build_skew_pair(spark, sf_dir: str, factor: int) -> tuple[str, str]:
    """Materialize two equal-volume ×factor datasets for the skew probe:
    UNIFORM (keys replicated with per-copy offsets, like build_scaled)
    and SKEWED (same rows, then ~20% of each fact table's rows — chosen
    by a deterministic hash — reassigned to ONE hot key). Volume and
    schema are identical; only the key distribution differs, so
    time(skewed)/time(uniform) isolates the skew handling itself."""
    uni = scratch_dir(f"sg_skewU_x{factor}_")
    skw = scratch_dir(f"sg_skewS_x{factor}_")

    def mx(df, col):
        return df.agg(F.max(col)).first()[0] + 1

    ev = read_table(spark, sf_dir, "events")
    li = read_table(spark, sf_dir, "lineitem")
    od = read_table(spark, sf_dir, "orders")
    sup = read_table(spark, sf_dir, "supplier")

    ev_n = _replicate(
        ev,
        factor,
        {"event_id": mx(ev, "event_id"), "ts": 0, "user_id": mx(ev, "user_id"),
         "event_type": 0, "value": 0, "props": 0},
    )
    sup_off = mx(sup, "s_suppkey")
    li_n = _replicate(
        li,
        factor,
        {"l_orderkey": mx(li, "l_orderkey"), "l_partkey": 0,
         "l_suppkey": sup_off, "l_linenumber": 0, "l_quantity": 0,
         "l_extendedprice": 0, "l_discount": 0, "l_tax": 0,
         "l_returnflag": 0, "l_linestatus": 0, "l_shipdate": 0},
    )
    od_n = _replicate(
        od,
        factor,
        {"o_orderkey": mx(od, "o_orderkey"), "o_custkey": mx(od, "o_custkey"),
         "o_orderstatus": 0, "o_totalprice": 0, "o_orderdate": 0,
         "o_orderpriority": 0},
    )
    sup_n = _replicate(
        sup, factor, {"s_suppkey": sup_off, "s_name": 0, "s_nationkey": 0}
    )

    def hot(df, salt_col, key_col, hot_value):
        """Reassign ~20% of rows (deterministic hash pick) to the hot key."""
        pick = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(5)) == 0
        return df.withColumn(
            key_col,
            F.when(pick, F.lit(hot_value)).otherwise(F.col(key_col)),
        )

    for out_dir, evx, lix, odx in (
        (uni, ev_n, li_n, od_n),
        (
            skw,
            hot(ev_n, "event_id", "user_id", 1),
            hot(li_n, "l_orderkey", "l_suppkey", 1),
            hot(od_n, "o_orderkey", "o_custkey", 1),
        ),
    ):
        evx.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, "events.parquet")
        )
        lix.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, "lineitem.parquet")
        )
        odx.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, "orders.parquet")
        )
        sup_n.repartition(4).write.mode("overwrite").parquet(
            os.path.join(out_dir, "supplier.parquet")
        )
    return uni, skw


def time_query(spark, spec, sf_dir: str, reps: int = 2) -> float:
    return round(
        min(time_noop_run(spark, spec.fn, sf_dir) for _ in range(reps)), 2
    )


def time_all(sf_dir: str, names: list[str]) -> dict[str, float]:
    """Time the query set in a FRESH session (stopped afterwards): a long
    shared session accumulates block-manager/broadcast state from earlier
    queries that inflates later measurements — the first probe version
    measured a 2.5× phantom slowdown on the last query that a clean
    session could not reproduce. One session per data size, same query
    order, keeps the two sides comparable."""
    spark = get_spark("scale_probe")
    specs = {s.name: s for s in REGISTRY} | EXTRA_SPECS
    out = {}
    # warmup: JIT/codegen/parquet-footer caches
    specs[names[0]].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    for name in names:
        out[name] = time_query(spark, specs[name], sf_dir)
        print(f"  {sf_dir}: {name} {out[name]}s", flush=True)
    spark.stop()
    return out


def run_skew_probe(args) -> None:
    """Skewed-key probe (round-4 VERDICT item 4): equal-volume uniform vs
    hot-key datasets; a ratio near 1 proves the skew story (salting /
    AQE skew-join / O(k) per-group state) on data that actually needs it."""
    spark = get_spark("scale_probe")
    uni_dir, skw_dir = build_skew_pair(spark, args.sf, args.factor)
    spark.stop()

    base = time_all(uni_dir, SKEW_QUERIES)
    skewed = time_all(skw_dir, SKEW_QUERIES)

    lines = [
        "",
        f"## Skewed-key probe (×{args.factor} volume, one hot key owning ~20% of each fact table)",
        "",
        "Same row count and schema on both sides; only the key distribution "
        "differs (deterministic 20% of l_suppkey/user_id/o_custkey rows "
        "reassigned to one hot entity). ratio = t(skewed)/t(uniform); "
        "near 1 ⇒ the plan absorbs the hot key (salting spreads it, AQE "
        "splits it, or per-group state is O(k)); ≫ 1 ⇒ a straggler reducer.",
        "",
        "| query | t(uniform) s | t(skewed) s | ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    for name in SKEW_QUERIES:
        tu, ts_ = base[name], skewed[name]
        ratio = round(ts_ / tu, 2) if tu > 0 else float("inf")
        verdict = "skew-absorbed" if ratio <= 1.5 else "STRAGGLER"
        lines.append(f"| {name} | {tu} | {ts_} | {ratio}× | {verdict} |")
        print(lines[-1], flush=True)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALE_PROBE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"appended skew section to SCALE_PROBE.md (data in {uni_dir}, {skw_dir})")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=20)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--skew", action="store_true",
        help="run the skewed-key probe instead of the growth probe",
    )
    ap.add_argument(
        "names", nargs="*",
        help="probe only these queries (default: the full list); "
        "selective runs print results but do NOT rewrite SCALE_PROBE.md",
    )
    args = ap.parse_args()

    if args.skew:
        if args.names:
            raise SystemExit("--skew runs its fixed query set; drop the names")
        run_skew_probe(args)
        return

    spark = get_spark("scale_probe")
    scaled_dir = build_scaled(spark, args.sf, args.factor)
    spark.stop()

    names = EVENT_QUERIES + DOC_QUERIES + EMB_QUERIES
    if args.names:
        unknown = sorted(set(args.names) - set(names))
        if unknown:
            raise SystemExit(
                f"unknown probe queries {unknown} — add them to "
                "EVENT_QUERIES, DOC_QUERIES or EMB_QUERIES first (a silent "
                "skip would burn the full scaled-data build and report "
                "nothing)"
            )
        names = [n for n in names if n in set(args.names)]
    base = time_all(args.sf, names)
    scaled = time_all(scaled_dir, names)

    lines = [
        "# SCALE_PROBE — operator scaling at replicated volume",
        "",
        f"Driver testdata (`{args.sf}`) replicated ×{args.factor} "
        "(events: user cardinality grows with volume; documents: disjoint "
        "per-copy shingle spaces keep the near-dup rate constant). "
        "time(×N)/time(×1) ≈ N ⇒ linear; ≪ N ⇒ fixed overhead amortizing; "
        "≫ N ⇒ a super-linear stage to fix. One fresh session per data "
        "size, min of 2 runs per query. Generated by tools/scale_probe.py.",
        "",
        f"| query | t(×1) s | t(×{args.factor}) s | ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    for name in names:
        t1, tn = base[name], scaled[name]
        ratio = round(tn / t1, 1) if t1 > 0 else float("inf")
        verdict = (
            "linear-or-better" if ratio <= args.factor * 1.25 else "SUPER-LINEAR"
        )
        lines.append(f"| {name} | {t1} | {tn} | {ratio}× | {verdict} |")
        print(lines[-1], flush=True)

    if args.names:
        print(f"(selective run — SCALE_PROBE.md not rewritten; scaled data in {scaled_dir})")
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALE_PROBE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote SCALE_PROBE.md (scaled data in {scaled_dir})")


if __name__ == "__main__":
    main()
