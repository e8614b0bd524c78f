"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries execute via the `noop` sink so we measure plan execution, not
driver-side result materialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from youtube_scraper_db_spark.registry import REGISTRY  # noqa: E402
from youtube_scraper_db_spark.session import get_spark, time_noop_run, warm_up  # noqa: E402

#: headline queries — the scan/shuffle/window-heavy subset of the registry,
#: plus the LLM-pipeline operators (dedup/similarity/text) so their
#: per-round perf is recorded alongside.
HEADLINE = [
    "pricing_summary",
    "customer_order_counts",
    "cross_linked_parts",
    "per_customer_stats",
    "line_positions",
    "ordered_part_lists",
    "first_line_per_order",
    "diff_sync_parts",
    "stale_events",
    "top_suppliers",
    "doc_token_stats",
    "doc_fingerprints",
    "ngram_jaccard_pairs",
    "minhash_lsh_dups",
    "simhash_dups",
    "embedding_cosine_topk",
    "lsh_near_dups",
    "ivf_ann_topk",
    "asof_latest_order",
    "event_daily_rollup",
    "shipments_in_transit_daily",
    "near_dup_clusters",
    "seq_packing_gate",
    "event_funnel",
    "event_neighbor_counts",
    "salted_supplier_revenue",
    "zorder_curve_keys",
    "incremental_rollup_equiv",
    "stream_correlated_pairs",
    "decontamination_flags",
    "doc_repetition_stats",
    "int8_ann_topk",
    "corpus_curation_report",
    "classic_q5_local_volume",
    "doc_unigram_rarity",
    "doc_tfidf_terms",
    "segment_dedup_docs",
    "bpe_pair_counts",
    "bpe_trained_merges",
    "bpe_apply_tokens",
    "classic_q16_supplier_variety",
    "classic_q21_waiting_supplier",
    "classic_q8_market_share",
    # round 6: the new operator gates, plus minhash_lsh_recall so the
    # xxhash64 PRODUCTION MinHash path keeps a tracked number now that
    # minhash_lsh_dups benches the oracle-replayable portable family
    # (deliberately ~1.4× the xxhash64 family: one md5 + conv per
    # shingle and an exact-integer fold bucket, the price of a full
    # value-hash driver check — see llm/dedup.py minhash_signatures).
    "unigram_trained_vocab",
    "unigram_apply_tokens",
    "doc_unigram_quality",
    "html_text_extract",
    "minhash_lsh_recall",
    "hll_distinct_users",
    "hll_union_merge",
    "cms_user_counts",
    "bloom_customer_filter",
    "image_resize_stats",
    # round 7: the sketch-mergeability gates (cms/bloom join hll_union_merge)
    "cms_union_merge",
    "bloom_union_merge",
    # round 7: WordPiece completes the BPE/unigram/WordPiece trainer trio
    "wordpiece_trained_merges",
    "wordpiece_apply_tokens",
    # round 7: stupid-backoff bigram LM scoring (the CCNet filter shape)
    "doc_bigram_quality",
    # round 7: incremental sketch maintenance over a stream — HLL (max,
    # O(512) state), CMS (sum, O(16k) cells), Bloom (set-union, O(2^14) bits)
    "stream_hll_distinct_users",
    "stream_cms_user_counts",
    "stream_bloom_customer_filter",
    # round 7: quantiles join the sketch family (fully oracle-replayed)
    "histogram_quantile_sketch",
    # round 8: streaming histogram completes the streaming-sketch family
    "stream_histogram_quantiles",
    # round 8: order-3 stupid backoff (the production chain order)
    "doc_trigram_quality",
    # round 8: tokenizer-artifact persistence (train→save→reload→apply ×2)
    "bpe_artifact_roundtrip",
    "unigram_artifact_roundtrip",
    "wordpiece_artifact_roundtrip",
    # round 8: incremental ANN maintenance (fold a batch, no retrain)
    "incremental_ivf_equiv",
    "incremental_pq_equiv",
    # round 8 (late): LM-model persistence, streaming Misra-Gries with
    # O(buckets·k) state, histogram-driven balanced range-sharding
    "bigram_model_artifact_roundtrip",
    "stream_heavy_hitter_words",
    "histogram_range_shards",
    "incremental_bigram_model_equiv",
    "stream_bpe_apply_tokens",
    "pagerank_near_dups",
    "tfidf_cosine_pairs",
    "label_prop_communities",
    # round 9: ANN index artifacts (save→reload→search ×2), the MG
    # summary merge, the incremental CC fold, order-3 LM persistence
    "ivf_artifact_roundtrip",
    "pq_artifact_roundtrip",
    "heavy_hitter_merge",
    "incremental_cc_equiv",
    "trigram_model_artifact_roundtrip",
    "incremental_trigram_model_equiv",
    # round 9: sketch artifacts — save the register/counter/bit table,
    # reload, fold the new batch into the LOADED sketch
    "hll_artifact_fold_roundtrip",
    "cms_artifact_fold_roundtrip",
    "bloom_artifact_fold_roundtrip",
    "histogram_artifact_frozen_fold",
    "heavy_hitter_artifact_fold",
    # round 9: grouped sketches — per-dimension cardinalities/percentiles
    "hll_distinct_users_by_type",
    "event_value_quantiles_by_type",
    "heavy_hitter_words_by_lang",
    # round 10: grouped CMS/Bloom complete the grouped-sketch grid;
    # MinHash index persistence + incremental fold; streaming CC;
    # weighted-sample merge
    "cms_user_counts_by_type",
    "bloom_filter_by_type",
    "minhash_index_artifact_roundtrip",
    "incremental_minhash_equiv",
    "stream_cc_labels",
    "weighted_sample_merge",
    "stream_lsh_ingest_dups",
    "weighted_sample_by_source",
    # round 10 (late): KMV/theta sketches (distinct + set algebra +
    # artifact fold), time-series analytics (LOCF fill, EWMA, Markov
    # transitions, grouped OLS), skyline, Hilbert layout keys
    "kmv_distinct_users",
    "kmv_union_merge",
    "kmv_semijoin_cardinality",
    "kmv_artifact_fold_roundtrip",
    "event_value_locf",
    "event_value_ewma",
    "event_type_transitions",
    "event_ols_trend",
    "pareto_frontier_parts",
    "hilbert_curve_keys",
    "stream_kmv_distinct_users",
    "kmv_rollup_merge",
    "benford_price_digits",
    "trigram_search_docs",
    "near_dup_triangles",
    "event_value_cusum",
    "kmv_antijoin_cardinality",
    "trigram_index_artifact_roundtrip",
    "bm25_search_scores",
    "node_clustering_coefficients",
    "image_dhash_near_dups",
    "fuzzy_name_pairs",
    "user_status_scd2",
    "kmv_sliding_distinct_users",
    "stream_skyline_parts",
    "bm25_index_artifact_fold",
    # round 11: explicit Bloom runtime-filter pruning, the
    # (grain,width)-parameterized sliding KMV, the streaming A-Res
    # reservoir
    "bloom_pruned_join",
    "kmv_sliding_distinct_users_30d",
    "stream_weighted_sample",
    "bloom_pruned_anti_join",
    "hll_sliding_distinct_users",
    "pareto_frontier_by_brand",
    "heavy_hitter_types_sliding",
    "event_value_quantiles_sliding",
    "bloom_mask_union_merge",
    # round 12: deterministic graph ANN (build + beam search + recall
    # witness), the streaming IVF ingest fold, and the cross-family
    # sliding-spine witness
    "graph_ann_topk",
    "stream_ivf_ingest",
    "sliding_spine_consistency",
    "incremental_nsw_equiv",
    "nsw_index_artifact_roundtrip",
    "stream_nsw_ingest",
    # round 13: ANN store deletions (tombstone logs + cell recompute)
    # and the fifth sliding family on the shared spine
    "stream_ivf_delete_equiv",
    "stream_nsw_delete_equiv",
    "stream_lsh_delete_equiv",
    "bloom_sliding_membership",
    "store_compaction_equiv",
    # stream_sessionized_users stays OUT: like the file-source
    # round-trips, most of its wall time is bounded scaffolding (staging
    # writes + sentinel construction), not plan execution. The streaming
    # gates ABOVE stay in because their wall time is compute-dominated
    # (per-batch sign/band/join/CC work over the corpus), with the same
    # bounded scaffolding as a small additive term.
]


def _calibrate(spark, reps: int) -> dict:
    """Registry-independent machine-speed anchor (round-7 drift audit).

    Round 6's "~1.3× regression on three queries" turned out to be a
    UNIFORM shift: the median r6/r5 ratio across all 43 shared queries
    was 1.23× with a tight 1.1–1.4 band — identical code (git diff) and
    identical data (seed=42, sf0.01 row counts byte-stable across
    rounds), reproduced in a fresh isolated session on an idle machine.
    The only remaining variable is the per-round VM/host. These probes
    measure THAT, so cross-round comparisons can divide it out:

    - ``jvm_codegen``: whole-stage-codegen arithmetic over spark.range —
      no I/O, no shuffle, no Python; pure JVM + core throughput.
    - ``jvm_shuffle``: one fixed hash-aggregate exchange — the shuffle
      write/read/merge path.
    - ``py_blas``: numpy matmul — the Arrow/pandas-kernel side.
    - ``io_parquet``: a fixed ~100 MB parquet write + full read-back.
      The read-back is served from the page cache and the write is
      buffered, so this mostly measures parquet encode/decode and
      buffered writes, not the disk itself. It was added because the
      r12→r13 driver runs showed flat CPU anchors while everything real
      slowed ~17%, a shift the three CPU anchors could not divide out.

    Compare per-query ratios AGAINST the same round's calib ratios
    before concluding any code-level regression.
    """
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    calib: dict[str, float] = {}
    io_dir = tempfile.mkdtemp(prefix="sg_calib_io_")
    try:
        for _ in range(max(1, reps)):
            t0 = time.time()
            (
                spark.range(0, 200_000_000, 1, 32)
                .select(F.sum(F.xxhash64("id") % 1_000_003).alias("h"))
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            calib["jvm_codegen"] = min(
                calib.get("jvm_codegen", 1e9), round(time.time() - t0, 3)
            )
            t0 = time.time()
            (
                spark.range(0, 20_000_000, 1, 32)
                .groupBy((F.col("id") % 4096).alias("k"))
                .agg(F.count("*").alias("c"), F.sum("id").alias("s"))
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            calib["jvm_shuffle"] = min(
                calib.get("jvm_shuffle", 1e9), round(time.time() - t0, 3)
            )
            t0 = time.time()
            a = np.ones((1536, 1536), dtype=np.float64)
            for _i in range(4):
                a = (a @ a) % 97.0
            calib["py_blas"] = min(
                calib.get("py_blas", 1e9), round(time.time() - t0, 3)
            )
            t0 = time.time()
            # ~100 MB on disk: 6M rows × (sequential long + xxhash64 long);
            # the hash column is incompressible, so the file size is stable
            # across codecs/versions. Write + full read-back, min-over-reps,
            # same protocol as the CPU anchors.
            (
                spark.range(0, 6_000_000, 1, 32)
                .select("id", F.xxhash64("id").alias("h"))
                .write.mode("overwrite")
                .parquet(io_dir)
            )
            (
                spark.read.parquet(io_dir)
                .agg(F.sum(F.col("h") % 1_000_003).alias("s"))
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            calib["io_parquet"] = min(
                calib.get("io_parquet", 1e9), round(time.time() - t0, 3)
            )
    finally:
        shutil.rmtree(io_dir, ignore_errors=True)
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    calib["cpu_model"] = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return calib


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")

    specs = {s.name: s for s in REGISTRY}
    names = [n for n in HEADLINE if n in specs]

    warm_up(spark, specs, sf_dir)

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    calib = _calibrate(spark, reps)

    # Per-query time = min over interleaved passes: this box shares its
    # CPUs with periodic external load, and a single pass can catch a
    # multi-second spike mid-query. The min of two full passes reports
    # the plan's cost, not the neighbor's.
    # Crash isolation (round-2 lesson): one broken query must NEVER zero
    # out the round's entire perf record. Each query runs under its own
    # try/except; failures land in an "errors" map, the partial timings
    # are still printed, and the process exits nonzero.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _ in range(max(1, reps)):
        for name in names:
            if name in errors:
                continue
            try:
                took = round(time_noop_run(spark, specs[name].fn, sf_dir), 3)
            except Exception as exc:  # noqa: BLE001 — report, don't die
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                timings.pop(name, None)
                continue
            timings[name] = min(timings.get(name, took), took)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calib": calib,
        "cpus": int(
            os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)
        ),
    }
    if errors:
        out["errors"] = errors
    # Full-name per-query artifact at a FIXED repo path (r13 VERDICT
    # items 1-2: PERF_r13 had n_common=0 / per_query={} because the
    # driver's stdout capture keeps only a ~2000-char tail, which the
    # full-name line below outgrew at r07 and the compact hashed line
    # survives but cannot be name-matched). Every bench run — 32-core
    # and the driver's low-core scaling pass alike — rewrites this file,
    # so the freshest run is always readable with full names; the
    # compact stdout line stays the driver's primary channel.
    try:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LATEST.json"
        )
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:  # read-only checkout: stdout still carries all
        print(f"bench: could not write BENCH_LATEST.json: {exc}", file=sys.stderr)
    # flush=True: the Py4J/JVM shutdown hooks that run at interpreter
    # exit have been observed to lose an unflushed stdout tail once the
    # JSON line outgrew ~1.6 KB — the driver parses this line, so it
    # must hit the pipe before any teardown runs.
    print(json.dumps(out), flush=True)
    # Compact SECOND line (round-10 verdict item 2): the driver's
    # artifact keeps only the last ~2000 chars of stdout, so the full
    # line above loses its head once the registry outgrew ~55 timed
    # queries (BENCH_r07+: parsed=null, ~55/125 timings recovered from
    # the tail). This line is the LAST stdout the process emits and is
    # sized to fit the tail whole: hashed names (sha1 prefix, length
    # chosen collision-free across the whole REGISTRY so
    # tools/bench_compare.py can invert it), integer centiseconds, and
    # millisecond calib anchors. It carries metric/value/unit/sf too,
    # so a driver that json-parses the tail's last line records a valid
    # bench result again.
    print(_compact_line(timings, calib, total, sf, errors), flush=True)
    if errors:
        sys.exit(1)


def _name_hash_len(names: list[str]) -> int:
    """Shortest sha1-hex prefix length >= 5 that is collision-free over
    the DISTINCT ``names``. Deterministic per registry state; emitted as
    ``hl`` so the decoder re-derives the same mapping."""
    import hashlib

    digests = {hashlib.sha1(n.encode()).hexdigest() for n in set(names)}
    hl = 5
    while len({d[:hl] for d in digests}) < len(digests):
        hl += 1
    return hl


def _compact_line(
    timings: dict[str, float],
    calib: dict,
    total: float,
    sf: float,
    errors: dict[str, str],
) -> str:
    import hashlib

    # collision-check over EVERY registry name (not just the timed
    # subset) so tools/bench_compare.py can invert hashes against the
    # registry of any later round — names are append-only.
    hl = _name_hash_len([s.name for s in REGISTRY] + sorted(timings))

    def _build(scale: int, key: str) -> str:
        out = {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "bv": 1,
            "hl": hl,
            "nq": len(timings),
            "calms": {
                k: int(round(v * 1000))
                for k, v in calib.items()
                if isinstance(v, (int, float))
            },
            key: {
                hashlib.sha1(n.encode()).hexdigest()[:hl]: int(
                    round(t * scale)
                )
                for n, t in sorted(timings.items())
            },
        }
        if errors:
            out["nerr"] = len(errors)
        return json.dumps(out, separators=(",", ":"))

    line = _build(100, "qcs")
    if len(line) > 1950:
        # registry growth headroom: the driver keeps a 2000-char tail —
        # once centiseconds no longer fit, drop a digit (deciseconds,
        # key "qds") rather than losing the map's head again.
        line = _build(10, "qds")
    return line


if __name__ == "__main__":
    main()
