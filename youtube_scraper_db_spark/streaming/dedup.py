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

The LSH near-dup index (``run_lsh_ingest_stream``) is a log-structured
store: its logs, replay, tombstones and compaction follow
streaming/store.py.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from .drain import drain
from .store import commit_baseline, log_dirs, read_live, write_log


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
    pairs, then APPENDS its signature, band and pair rows to the store's
    insert logs (streaming/store.py) — banding is per-doc, so
    index(old ∪ new) = index(old) ∪ index(new); no rewrite, no
    re-shingling of history.

    Exactly-once discovery: a candidate pair (same band bucket,
    doc_a < doc_b) surfaces EITHER inside the batch that carries both
    docs (the within-batch self-join) OR when the later doc's batch
    probes the store — never both, because a batch's probe reads only
    OTHER batches' logs (on replay, its own log is left out). The
    drained pair set therefore equals the one-shot ``minhash_lsh_pairs``
    of the full corpus for ANY micro-batch layout
    (``stream_lsh_ingest_dups`` gates the equality).

    Per-batch cost is batch-sized: one keyed join of the batch's band
    rows against the stored band table plus a batch self-join — the
    historical corpus is never re-scanned. Returns (pairs, sigs, bands)
    as batch DataFrames read back from the store."""
    from pyspark.sql import functions as F

    from ..llm.dedup import (
        lsh_pairs_from_index,
        minhash_band_table,
        minhash_signatures,
    )

    spark = doc_updates.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sig_b = minhash_signatures(
            batch_df, "doc", "text", num_hashes, k, portable=portable
        ).localCheckpoint(eager=True)
        bands_b = minhash_band_table(
            sig_b, num_hashes, bands, portable=portable
        ).localCheckpoint(eager=True)
        within = lsh_pairs_from_index(bands_b, sig_b, num_hashes)
        # probe the LIVE index: tombstoned docs (run_lsh_delete_stream)
        # must not pair with new arrivals
        store_bands = _read_live(spark, index_root, "bands", batch_id)
        store_sigs = _read_live(spark, index_root, "sigs", batch_id)
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
        for table, rows in (
            ("pairs", within.unionByName(cross)),
            ("sigs", sig_b),
            ("bands", bands_b),
        ):
            write_log(rows, os.path.join(index_root, table), batch_id)

    drain(doc_updates, apply_batch, checkpoint)

    return read_lsh_store(spark, index_root)


_LSH_SCHEMAS = {
    "sigs": "doc long, sig array<bigint>",
    "bands": "doc long, band int, bucket long",
}
_LSH_PAIR_SCHEMA = "doc_a long, doc_b long, est_jaccard double"


def _read_live(spark, index_root: str, table: str, own: int | None = None):
    """A doc-keyed store table (sigs or bands), tombstoned by the
    ``tombs/`` logs; ``own`` leaves out the in-flight batch's log."""
    return read_live(
        spark, os.path.join(index_root, table), _LSH_SCHEMAS[table],
        ("doc",), tomb_root=os.path.join(index_root, "tombs"),
        own_insert=own,
    )


def read_lsh_store(spark, index_root: str):
    """(pairs, sigs, bands) — the store's current state. Sigs and bands
    are the LIVE index (streaming/store.py ``read_live``); the pairs
    table is a DISCOVERY LOG, never tombstoned — pair rows involving
    later-deleted docs remain as history, exactly like a dedup audit
    trail (re-deriving live pairs is ``lsh_pairs_from_index`` over the
    live bands)."""
    pairs = read_live(
        spark, os.path.join(index_root, "pairs"), _LSH_PAIR_SCHEMA,
        ("doc_a", "doc_b"),
    )
    sigs = _read_live(spark, index_root, "sigs")
    return pairs, sigs, _read_live(spark, index_root, "bands")


def compact_lsh_store(spark, index_root: str) -> None:
    """Compact all four LSH store tables: the live sigs and bands
    (tombstones physically applied) and the pairs discovery log each
    become one committed baseline; the tombstone logs are cleared LAST
    — only after both doc-keyed tables have baselined with the
    tombstones applied, so a crash at any point leaves every reader
    correct (stale tombstones are harmless no-ops under no-id-reuse;
    see streaming/store.py for the commit protocol)."""
    pairs, sigs, bands = read_lsh_store(spark, index_root)
    commit_baseline(os.path.join(index_root, "sigs"), sigs)
    commit_baseline(os.path.join(index_root, "bands"), bands)
    commit_baseline(os.path.join(index_root, "pairs"), pairs)
    tomb_root = os.path.join(index_root, "tombs")
    for d in log_dirs(tomb_root):
        shutil.rmtree(os.path.join(tomb_root, d))


def run_lsh_delete_stream(
    del_updates: DataFrame,
    index_root: str,
    checkpoint: str,
    doc_col: str = "doc",
):
    """Drain a stream of DELETED doc ids into the LSH store's tombstone
    log under ``tombs/`` (streaming/store.py): every subsequent store
    read and ingest probe anti-joins them out, so a deleted doc stops
    matching new arrivals immediately. Banding is per-doc pure, so the
    live index equals the one-shot build over the remaining docs
    row-for-row (``stream_lsh_delete_equiv`` gates it). Returns (pairs,
    sigs, bands) read back live."""
    from pyspark.sql import functions as F

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_log(
            batch_df.select(F.col(doc_col).alias("doc")),
            os.path.join(index_root, "tombs"), batch_id, tomb=True,
        )

    drain(del_updates, apply_batch, checkpoint)
    return read_lsh_store(del_updates.sparkSession, index_root)
