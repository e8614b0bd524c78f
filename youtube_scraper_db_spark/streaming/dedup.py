"""Streaming deduplication — exactly-once-per-key ingestion with bounded
state.

An ingestion stream (re-scraped playlists, re-delivered transcript
files, at-least-once upstream queues) re-emits the same logical row; the
sink must see it once. On a stream, plain ``dropDuplicates`` keeps every
key ever seen in state — unbounded growth, the streaming scale-killer.
``dropDuplicatesWithinWatermark`` instead evicts key state once the
event-time watermark passes it: duplicates are only ever re-delivered
within some bounded lateness in practice, so state is
O(keys per watermark horizon), independent of stream lifetime.

Batch twin: the identical call site degrades to ``dropDuplicates`` —
same semantics when the whole input is one "batch epoch" — preserving
the backfill-IS-the-streaming-query property of streaming/windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .drain import drain


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first arrival per key; on streams, forget keys once the
    watermark guarantees no more duplicates can arrive for them."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def run_lsh_ingest_stream(
    doc_updates: DataFrame,
    index_root: str,
    checkpoint: str,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    portable: bool = False,
):
    """Online NEAR-dup detection at ingest — the dedup-before-store loop
    of a 100 TB corpus: each micro-batch of ``(doc, text)`` rows signs
    and bands ONLY ITSELF (llm/dedup.py minhash_signatures /
    minhash_band_table), probes its band rows against the STORED index
    to flag near-dups of anything already ingested, finds within-batch
    pairs, then APPENDS its signature and band rows to the store — the
    log-structured fold (banding is per-doc, so index(old ∪ new) =
    index(old) ∪ index(new); no rewrite, no re-shingling of history).

    Exactly-once discovery: a candidate pair (same band bucket,
    doc_a < doc_b) surfaces EITHER inside the batch that carries both
    docs (the within-batch self-join) OR when the later doc's batch
    probes the store — never both, because a batch's probe reads only
    OTHER batches' store directories. The drained pair set therefore
    equals the one-shot ``minhash_lsh_pairs`` of the full corpus for
    ANY micro-batch layout (``stream_lsh_ingest_dups`` gates the
    equality).

    Restart/replay contract (foreachBatch is at-least-once): every
    batch writes its sig/band/pair rows to its OWN ``b_{batch_id}``
    subdirectory in OVERWRITE mode, so a replayed batch rewrites the
    same deterministic rows instead of appending duplicates, its probe
    excludes its own directory (it may already exist from the crashed
    attempt) so it never pairs with itself, and store presence is
    derived from the directories on disk — a rerun against the same
    checkpoint resumes against the full prior store.

    Per-batch cost is batch-sized: one keyed join of the batch's band
    rows against the stored band table plus a batch self-join — the
    historical corpus is never re-scanned. Returns (pairs, sigs, bands)
    as batch DataFrames read back from the store."""
    import os

    from pyspark.sql import functions as F

    from ..llm.dedup import (
        lsh_pairs_from_index,
        minhash_band_table,
        minhash_signatures,
    )

    spark = doc_updates.sparkSession
    sig_dir = os.path.join(index_root, "sigs")
    band_dir = os.path.join(index_root, "bands")
    pair_dir = os.path.join(index_root, "pairs")
    for d in (sig_dir, band_dir, pair_dir):
        os.makedirs(d, exist_ok=True)
    sig_schema = "doc long, sig array<bigint>"
    band_schema = "doc long, band int, bucket long"
    pair_schema = "doc_a long, doc_b long, est_jaccard double"

    def _batch_dirs(root: str, exclude: int | None = None) -> list[str]:
        # baseline-aware (streaming/store.py): the probe reads the
        # newest compacted baseline plus the logs it has not consumed
        from .store import active_baseline, live_log_dirs

        base, _ = active_baseline(root)
        return ([base] if base else []) + live_log_dirs(
            root, "b_", exclude=exclude
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sig_b = minhash_signatures(
            batch_df, "doc", "text", num_hashes, k, portable=portable
        ).localCheckpoint(eager=True)
        bands_b = minhash_band_table(
            sig_b, num_hashes, bands, portable=portable
        ).localCheckpoint(eager=True)
        within = lsh_pairs_from_index(bands_b, sig_b, num_hashes)
        store_band_dirs = _batch_dirs(band_dir, exclude=batch_id)
        if store_band_dirs:
            # probe the LIVE index: tombstoned docs (run_lsh_delete_stream)
            # must not pair with new arrivals
            store_bands = _lsh_live(
                spark,
                spark.read.schema(band_schema).parquet(*store_band_dirs),
                index_root,
            )
            store_sigs = _lsh_live(
                spark,
                spark.read.schema(sig_schema).parquet(
                    *_batch_dirs(sig_dir, exclude=batch_id)
                ),
                index_root,
            )
            a = bands_b.alias("a")
            s = store_bands.alias("s")
            # store doc ids and batch doc ids are disjoint (ingest
            # invariant: a doc is appended exactly once), so canonical
            # (min, max) ordering is safe
            cand = (
                a.join(
                    s,
                    (F.col("a.band") == F.col("s.band"))
                    & (F.col("a.bucket") == F.col("s.bucket")),
                )
                .select(
                    F.least(F.col("a.doc"), F.col("s.doc")).alias("doc_a"),
                    F.greatest(F.col("a.doc"), F.col("s.doc")).alias("doc_b"),
                )
                .dropDuplicates(["doc_a", "doc_b"])
            )
            all_sigs = store_sigs.unionByName(sig_b)
            sa = all_sigs.select(
                F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a")
            )
            sb = all_sigs.select(
                F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b")
            )
            agree = F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda v: v,
                )
            )
            cross = (
                cand.join(sa, "doc_a")
                .join(sb, "doc_b")
                .select(
                    "doc_a",
                    "doc_b",
                    F.round(agree / F.lit(float(num_hashes)), 4).alias(
                        "est_jaccard"
                    ),
                )
            )
            new_pairs = within.unionByName(cross)
        else:
            new_pairs = within
        # per-batch OVERWRITE directories: deterministic rows, so a
        # replayed batch rewrites instead of duplicating
        new_pairs.write.mode("overwrite").parquet(
            os.path.join(pair_dir, f"b_{batch_id}")
        )
        sig_b.write.mode("overwrite").parquet(
            os.path.join(sig_dir, f"b_{batch_id}")
        )
        bands_b.write.mode("overwrite").parquet(
            os.path.join(band_dir, f"b_{batch_id}")
        )

    drain(doc_updates, apply_batch, checkpoint)

    return read_lsh_store(spark, index_root)


_LSH_SIG_SCHEMA = "doc long, sig array<bigint>"
_LSH_BAND_SCHEMA = "doc long, band int, bucket long"
_LSH_PAIR_SCHEMA = "doc_a long, doc_b long, est_jaccard double"
_LSH_TOMB_SCHEMA = "doc long"


def _lsh_live(spark, rows: DataFrame, index_root: str) -> DataFrame:
    """Anti-join a doc-keyed store table against the live tombstone
    logs (the tombstone side broadcasts — it is the small side by
    construction). Tombstones consumed by a compaction baseline are
    already physically applied and skipped here; a stale tombstone
    surviving a crash-interrupted compaction is harmless under the
    no-id-reuse contract (it suppresses ids the baseline no longer
    carries)."""
    import os

    from pyspark.sql import functions as F

    from .store import live_log_dirs

    dirs = live_log_dirs(os.path.join(index_root, "tombs"), "d_")
    if not dirs:
        return rows
    tombs = spark.read.schema(_LSH_TOMB_SCHEMA).parquet(*dirs)
    return rows.join(F.broadcast(tombs), "doc", "left_anti")


def read_lsh_store(spark, index_root: str):
    """(pairs, sigs, bands) — the store's current state. Sigs and bands
    are the LIVE index (baseline + unconsumed insert logs, anti-joined
    against the live tombstone logs); the pairs table is a DISCOVERY
    LOG — pair rows involving later-deleted docs remain as history,
    exactly like a dedup audit trail (re-deriving live pairs is
    ``lsh_pairs_from_index`` over the live bands)."""
    import os

    from .store import active_baseline, live_log_dirs

    def _read(root: str, schema: str) -> DataFrame:
        base, _ = active_baseline(root)
        dirs = ([base] if base else []) + live_log_dirs(root, "b_")
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*dirs)

    pairs = _read(os.path.join(index_root, "pairs"), _LSH_PAIR_SCHEMA)
    sigs = _lsh_live(
        spark, _read(os.path.join(index_root, "sigs"), _LSH_SIG_SCHEMA),
        index_root,
    )
    bands = _lsh_live(
        spark, _read(os.path.join(index_root, "bands"), _LSH_BAND_SCHEMA),
        index_root,
    )
    return pairs, sigs, bands


def compact_lsh_store(spark, index_root: str) -> None:
    """Compact all four LSH store tables: the live sigs and bands
    (tombstones physically applied) and the pairs discovery log each
    become one committed baseline; the tombstone logs are cleared LAST
    — only after both doc-keyed tables have baselined with the
    tombstones applied, so a crash at any point leaves every reader
    correct (stale tombstones are harmless no-ops under no-id-reuse;
    see streaming/store.py for the commit protocol)."""
    import os
    import shutil

    from .store import commit_baseline, live_log_dirs

    _pairs, sigs, bands = read_lsh_store(spark, index_root)
    commit_baseline(os.path.join(index_root, "sigs"), sigs)
    commit_baseline(os.path.join(index_root, "bands"), bands)
    commit_baseline(os.path.join(index_root, "pairs"), _pairs)
    for d in live_log_dirs(os.path.join(index_root, "tombs"), "d_"):
        shutil.rmtree(d)


def run_lsh_delete_stream(
    del_updates: DataFrame,
    index_root: str,
    checkpoint: str,
    doc_col: str = "doc",
):
    """Drain a stream of DELETED doc ids into the LSH store's tombstone
    log (``tombs/d_{batch_id}``, overwrite — the replay-idempotent
    log-structured device): every subsequent store read and ingest
    probe anti-joins them out, so a deleted doc stops matching new
    arrivals immediately. Banding is per-doc pure, so the live index
    equals the one-shot build over the remaining docs row-for-row
    (``stream_lsh_delete_equiv`` gates it). Contract: doc ids are not
    re-ingested after deletion (tombstones suppress the id across all
    insert logs). Returns (pairs, sigs, bands) read back live."""
    import os

    from pyspark.sql import functions as F

    tomb_dir = os.path.join(index_root, "tombs")
    os.makedirs(tomb_dir, exist_ok=True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(F.col(doc_col).alias("doc")).write.mode(
            "overwrite"
        ).parquet(os.path.join(tomb_dir, f"d_{batch_id}"))

    drain(del_updates, apply_batch, checkpoint)
    return read_lsh_store(del_updates.sparkSession, index_root)
