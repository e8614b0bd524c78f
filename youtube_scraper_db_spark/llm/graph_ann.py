"""Graph-based approximate nearest neighbor — the beam-search-over-a-
neighbor-graph family (NSW/HNSW tier: the production default for large
embedding stores, FAISS-HNSW/ScaNN class) re-expressed as DataFrame
ops, completing the engine's ANN coverage next to IVF inverted lists,
PQ codes, LSH buckets and int8 re-rank (llm/similarity.py).

Production HNSW is traversal-order-dependent (insertion order shapes
the layers), which would make an oracle replay impossible. This module
gates the DETERMINISTIC variant instead — the sketch-family playbook:

- **Build** (``nsw_edges``): a navigable-small-world-style neighbor
  graph constructed from LSH-bucketed local kNN, never all-pairs. One
  8-plane portable (md5-derived) signature splits into TWO 4-bit bucket
  families; within each family's bucket every vector links to its top-M
  cosine neighbors (6dp-rounded score, id tie-break → order-free), the
  two families' directed edges union, and the graph symmetrizes. Two
  overlapping partitions of the corpus make the graph connected the way
  HNSW's long links do, while each family's join stays a bucket-local
  shuffle — at 100 TB this is two bucket-keyed exchanges plus a
  windowed top-M, the lsh_near_dups cost shape, O(sum of bucket²)
  bounded by plane count, never O(n²).
- **Search** (``nsw_search``): fixed entry points (the lowest ids),
  then ``hops`` rounds of frontier expansion — score the beam's
  neighbors against the query, keep the top-``beam`` by 6dp-rounded
  cosine (id tie-break) — and an exact 4dp re-rank of the final beam.
  The per-hop candidate set is BOUNDED (≤ beam × (M+1) ids), so each
  hop collects it driver-side and pushes it into the edge and corpus
  scans as ``isin()`` literal predicates — parquet row-group pruning
  reads only matching files, and neither table is ever streamed in
  full at query time (r12 VERDICT "What's wrong #1": the first cut
  fetched candidate vectors via a broadcast join, which broadcast the
  ids but STREAMED the whole corpus once per hop).

Everything above is md5 arithmetic + rounded doubles + integer
tie-breaks, so the ENTIRE pipeline — graph included — replays in
DuckDB SQL (``nsw_oracle_sql`` unrolls the hops as CTE pairs, the
_pagerank_sql device), upgrading the gate from a recall boolean to a
full value-hash check; recall@10 vs brute force rides along as an
exact-checked column (the incremental_ivf_equiv contract). The
multiply-referenced CTEs (bk/nrm/edges/sc) are MATERIALIZED — DuckDB
inlines CTEs by default, and recomputing the edge build once per hop
turned a 3 s replay into 300 s at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable_hash import md5_halves_sql
from .similarity import _dot, as_double, lsh_signature, portable_hyperplanes

#: The gate's plane family: 8 portable hyperplanes over 64 dims, split
#: into two 4-bit bucket families (low/high half of the signature).
N_PLANES = 8
FAM_BITS = 4


def nsw_bucketed(
    emb: DataFrame,
    dim: int = 64,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(nid, nv, nn, ba, bb): each vector with its norm and its bucket
    in both families — the signed portable signature split low/high."""
    fam_bits = n_planes // 2
    planes = portable_hyperplanes(dim, n_planes)
    sig = lsh_signature(as_double(vec_col), planes, round_dp=6)
    return (
        emb.select(
            F.col(id_col).alias("nid"),
            as_double(vec_col).alias("nv"),
            sig.alias("sig"),
        )
        .withColumn("nn", F.sqrt(_dot(F.col("nv"), F.col("nv"))))
        .withColumn("ba", F.col("sig").bitwiseAND(F.lit((1 << fam_bits) - 1)))
        .withColumn("bb", F.shiftright("sig", fam_bits))
        .drop("sig")
    )


def nsw_directed_edges(
    bucketed: DataFrame,
    m_neighbors: int = 6,
    restrict: DataFrame | None = None,
) -> DataFrame:
    """(fam, bk, src, dst): per-family within-bucket top-M directed kNN
    over a ``nsw_bucketed`` table, bucket tags kept — they are what
    makes the graph INCREMENTAL (``nsw_fold_directed``): an edge is a
    pure function of its (fam, bucket) cell's membership, so a new
    batch invalidates only the cells it lands in. Pass ``restrict``
    ``(fam, bk)`` to compute only those cells (the fold's recompute
    path — per-batch cost ∝ touched-cell population, not corpus)."""
    fams = []
    for fam in ("ba", "bb"):
        side = bucketed
        if restrict is not None:
            keys = restrict.where(F.col("fam") == fam).select("bk")
            side = bucketed.join(
                F.broadcast(keys),
                bucketed[fam] == keys["bk"],
                "left_semi",
            )
        a = side.select(
            F.col("nid").alias("src"),
            F.col("nv").alias("av"),
            F.col("nn").alias("an"),
            F.col(fam).alias("bk"),
        )
        b = side.select(
            F.col("nid").alias("dst"),
            F.col("nv").alias("bv"),
            F.col("nn").alias("bn"),
            F.col(fam).alias("bk"),
        )
        scored = (
            a.join(b, "bk")
            .where(F.col("src") != F.col("dst"))
            .select(
                "bk",
                "src",
                "dst",
                F.round(
                    _dot(F.col("av"), F.col("bv"))
                    / (F.col("an") * F.col("bn")),
                    6,
                ).alias("s"),
            )
        )
        w = Window.partitionBy("bk", "src").orderBy(F.desc("s"), F.asc("dst"))
        fams.append(
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= m_neighbors)
            .select(F.lit(fam).alias("fam"), "bk", "src", "dst")
        )
    return fams[0].unionByName(fams[1])


def nsw_symmetrize(directed: DataFrame) -> DataFrame:
    """(src, dst): drop the bucket tags, dedup across families, add
    reverse edges — the searchable adjacency table."""
    d = directed.select("src", "dst").distinct()
    return d.unionByName(
        d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def nsw_cell_rows(bucketed: DataFrame) -> DataFrame:
    """(fam, bk, nid, nv, nn): a ``nsw_bucketed`` table exploded under
    BOTH its cells — the CELL-PARTITIONED membership layout the
    streaming store persists (each vector stored twice, once per
    family, the classic space-for-pruning trade: a (fam, bk)-partitioned
    vector log lets a micro-batch read ONLY its touched-cell partitions
    instead of the whole history)."""
    cols = ["nid", "nv", "nn"]
    return bucketed.select(
        F.lit("ba").alias("fam"), F.col("ba").alias("bk"), *cols
    ).unionByName(
        bucketed.select(
            F.lit("bb").alias("fam"), F.col("bb").alias("bk"), *cols
        )
    )


def nsw_cell_edges(members: DataFrame, m_neighbors: int = 6) -> DataFrame:
    """(fam, bk, src, dst): within-cell top-M directed kNN over
    CELL-KEYED membership rows (``nsw_cell_rows`` layout). Exactly
    ``nsw_directed_edges`` re-expressed over the exploded layout — one
    (fam, bk)-keyed self-join + one windowed top-M for BOTH families at
    once (equivalence pinned by tests/test_graph_ann.py); feeding it
    only the touched cells' members is the streaming fold's recompute
    path."""
    a = members.select(
        "fam",
        "bk",
        F.col("nid").alias("src"),
        F.col("nv").alias("av"),
        F.col("nn").alias("an"),
    )
    b = members.select(
        "fam",
        "bk",
        F.col("nid").alias("dst"),
        F.col("nv").alias("bv"),
        F.col("nn").alias("bn"),
    )
    scored = (
        a.join(b, ["fam", "bk"])
        .where(F.col("src") != F.col("dst"))
        .select(
            "fam",
            "bk",
            "src",
            "dst",
            F.round(
                _dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")),
                6,
            ).alias("s"),
        )
    )
    w = Window.partitionBy("fam", "bk", "src").orderBy(
        F.desc("s"), F.asc("dst")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= m_neighbors)
        .select("fam", "bk", "src", "dst")
    )


def nsw_touched_cells(
    batch: DataFrame,
    dim: int = 64,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(fam, bk): the bucket cells a batch of new vectors lands in —
    ≤ 2 × |batch| rows, the fold's invalidation set."""
    bb = nsw_bucketed(batch, dim, n_planes, id_col, vec_col)
    return (
        bb.select(F.lit("ba").alias("fam"), F.col("ba").alias("bk"))
        .unionByName(
            bb.select(F.lit("bb").alias("fam"), F.col("bb").alias("bk"))
        )
        .distinct()
    )


def nsw_fold_directed(
    old_directed: DataFrame,
    emb_all: DataFrame,
    batch: DataFrame,
    dim: int = 64,
    m_neighbors: int = 6,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fold a new vector batch into a directed NSW edge table: keep
    every cell the batch does not touch, recompute ONLY the touched
    cells over the union corpus. Exactly equals a full rebuild —
    within-cell kNN is a pure function of cell membership, and a batch
    changes membership only where it lands — so daily index growth
    costs O(touched-cell population), never a corpus rebuild (the
    incremental_ivf_equiv property, graph-shaped)."""
    touched = nsw_touched_cells(batch, dim, n_planes, id_col, vec_col)
    kept = old_directed.join(F.broadcast(touched), ["fam", "bk"], "left_anti")
    recomputed = nsw_directed_edges(
        nsw_bucketed(emb_all, dim, n_planes, id_col, vec_col),
        m_neighbors,
        restrict=touched,
    )
    return kept.unionByName(recomputed)


def nsw_apply_deletes(
    old_directed: DataFrame,
    emb_remaining: DataFrame,
    deleted: DataFrame,
    dim: int = 64,
    m_neighbors: int = 6,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Delete a batch of vectors from a directed NSW edge table: a
    delete is a MEMBERSHIP change, so the fold device applies inverted —
    the touched cells are the DELETED rows' cells, recomputed over the
    REMAINING corpus; every untouched cell's edges carry over verbatim.
    Equals ``nsw_directed_edges`` over the remaining corpus cell-for-
    cell (``nsw_delete_equiv`` gates it), for the same structural
    reason the insert fold is exact. ``deleted`` must carry the row
    image (id + vector) — cells are a function of the vector, and the
    cell-partitioned stores have no id-keyed lookup by design.

    A cell whose LAST members are deleted recomputes to zero edges;
    callers that persist cells as partitions must purge those
    partitions explicitly (``streaming.ann._purge_cells``) — a dynamic
    partition overwrite alone would leave the stale cell in place (r12
    ADVICE)."""
    touched = nsw_touched_cells(deleted, dim, n_planes, id_col, vec_col)
    kept = old_directed.join(F.broadcast(touched), ["fam", "bk"], "left_anti")
    recomputed = nsw_directed_edges(
        nsw_bucketed(emb_remaining, dim, n_planes, id_col, vec_col),
        m_neighbors,
        restrict=touched,
    )
    return kept.unionByName(recomputed)


def nsw_edges(
    emb: DataFrame,
    dim: int = 64,
    m_neighbors: int = 6,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(src, dst): the symmetrized NSW neighbor graph — per bucket
    family, each vector's top-``m_neighbors`` cosine neighbors within
    its bucket (6dp-rounded score, dst-id tie-break), both families
    unioned, reverse edges added. ≤ 2 × 2 × M rows per vector.

    ``n_planes`` is THE scale knob: each family has 2^(n_planes/2)
    buckets, so the build's pair cost is Θ(n² / 2^(n_planes/2)) —
    size it ∝ log₂(corpus) to hold per-bucket populations (and
    therefore cost-per-vector) constant as the corpus grows, exactly
    HNSW's n·log n build discipline. The gate pins 8 planes (its
    oracle replays them literally); the ×20 probe sizes adaptively."""
    return nsw_symmetrize(
        nsw_directed_edges(
            nsw_bucketed(emb, dim, n_planes, id_col, vec_col), m_neighbors
        )
    )


def nsw_score_ids(
    corpus: DataFrame,
    query_df: DataFrame,
    id_col: str,
    id_literals: list,
) -> DataFrame:
    """Fetch + score a BOUNDED literal id list against the (1-row)
    query: the hop-fetch building block of ``nsw_search``, module-level
    so tests can assert its plan pushes ``In(id, …)`` into the corpus
    scan (parquet row-group pruning — the 100 TB contract)."""
    qn = F.sqrt(_dot(F.col("qv"), F.col("qv")))
    cos = _dot(F.col("v"), F.col("qv")) / (F.col("vn") * qn)
    return (
        corpus.where(F.col(id_col).isin(id_literals))
        .crossJoin(F.broadcast(query_df))
        .select(
            F.col(id_col),
            F.round(cos, 6).alias("s6"),
            F.round(cos, 4).alias("s4"),
        )
    )


def nsw_probe_edges(edges: DataFrame, beam_ids: list) -> DataFrame:
    """The hop's adjacency probe: neighbors of a BOUNDED literal id
    list. ``isin`` on ``src`` reaches the edge scan as a pushed filter,
    so the (M·n)-row edge table is row-group-probed, never streamed.
    The output is ≤ beam × M rows with duplicates; the caller dedups
    driver-side (a ``distinct`` here cost a whole exchange per hop for
    a bounded list — r13 optimization round)."""
    return edges.where(F.col("src").isin(beam_ids)).select("dst")


def nsw_search(
    edges: DataFrame,
    emb: DataFrame,
    query_df: DataFrame,
    n_entries: int = 4,
    beam: int = 16,
    hops: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic beam search: start from the ``n_entries`` lowest
    ids, expand ``hops`` times through the edge table keeping the
    top-``beam`` by 6dp-rounded query cosine (id tie-break), return the
    final beam's top-``k`` re-ranked at 4dp → (id, cos_sim).

    Scale shape: every driver-side ``collect`` here is over a list
    whose size is a FUNCTION OF THE SEARCH PARAMETERS, not the corpus —
    ``n_entries``, then ``beam`` ids per hop, then ≤ beam × (M+1)
    candidate ids (tens to hundreds). Those literal id lists are pushed
    into the scans as ``isin()`` predicates, so at 100 TB a hop reads
    only the parquet row groups whose id ranges match — the edge table
    is probed by ``src`` and the corpus by ``id_col``, never streamed
    in full (the documented allowlist class: bounded driver-side
    scalars, like the Bloom mask and the ANN recall riders)."""
    corpus = emb.select(
        F.col(id_col), as_double(vec_col).alias("v")
    ).withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))

    def _score(id_literals: list) -> DataFrame:
        return nsw_score_ids(corpus, query_df, id_col, id_literals)

    # Each driver round-trip below collects a bounded, parameter-sized
    # list (never corpus-sized). r13 optimization round: the hop loop
    # went from 3 Spark jobs per hop (beam-id collect, probe collect,
    # scored-beam localCheckpoint) to 2 (probe collect; score + top-beam
    # selection fused into ONE collect) — the checkpointed intermediate
    # only existed to feed the next collect, so the fused job computes
    # the same plan (score → sort by (s6 desc, id) → limit beam) with
    # one action and no lineage buildup. The returned DataFrame re-
    # scores the final beam ids through the SAME pruned-scan plan shape
    # (deterministic scores, identical rows).
    entry_ids = sorted(
        r[0]
        for r in emb.select(id_col).orderBy(F.asc(id_col)).limit(
            n_entries
        ).collect()
    )
    beam_ids = entry_ids
    for _ in range(hops):
        nbr_ids = {
            r[0] for r in nsw_probe_edges(edges, beam_ids).collect()
        }
        cand_ids = sorted(set(beam_ids) | nbr_ids)
        beam_ids = sorted(
            r[0]
            for r in _score(cand_ids)
            .orderBy(F.desc("s6"), F.asc(id_col))
            .limit(beam)
            .select(id_col)
            .collect()
        )
    return (
        _score(beam_ids)
        .orderBy(F.desc("s4"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.col("s4").alias("cos_sim"))
    )


def nsw_oracle_sql(
    m_neighbors: int = 6,
    n_entries: int = 4,
    beam: int = 16,
    hops: int = 3,
    k: int = 10,
    query_id: int = 0,
    n_planes: int = N_PLANES,
    checksum_mod: int | None = None,
    corpus_where: str = "",
) -> str:
    """DuckDB replay of build + search + the exact-recall rider over the
    ``embeddings`` view: portable 8-plane signatures → two bucket
    families → per-family top-M edges → symmetrize → unrolled beam
    hops → 4dp re-rank, plus recall_hits vs brute-force top-10 and the
    symmetrized edge count (both exact, hash-checked). Column names
    match the engine gate: (vec_id, cos_sim, recall_hits, n_edges).
    ``corpus_where`` filters the corpus CTE — the delete gates replay
    build+search over the REMAINING rows with it."""
    fam_bits = n_planes // 2
    fam_mask = (1 << fam_bits) - 1
    # per-alias bucket expressions built directly (r12 ADVICE: the first
    # cut qualified them via textual `.replace('s ', alias + '.s ')`,
    # which silently breaks on any future family expression containing
    # another 's '-prefixed token)
    fam_exprs = (
        lambda a: f"{a}.s & {fam_mask}",
        lambda a: f"{a}.s >> {fam_bits}",
    )
    fam_edges = []
    for fam_expr in fam_exprs:
        fam_edges.append(
            f"""(
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND(list_dot_product(na.ev, nb.ev)
                                / (na.n * nb.n), 6) DESC, b.vec_id
               ) AS rn
        FROM bk a JOIN bk b
          ON ({fam_expr('a')}) = ({fam_expr('b')})
         AND a.vec_id <> b.vec_id
        JOIN nrm na ON na.vec_id = a.vec_id
        JOIN nrm nb ON nb.vec_id = b.vec_id
      ) WHERE rn <= {m_neighbors}
    )"""
        )
    hop_ctes = []
    prev = "b0"
    for i in range(1, hops + 1):
        hop_ctes.append(
            f"""c{i} AS (
      SELECT vec_id FROM {prev}
      UNION
      SELECT e.dst AS vec_id FROM {prev} p JOIN edges e ON e.src = p.vec_id
    ),
    b{i} AS (
      SELECT vec_id FROM (
        SELECT c.vec_id,
               row_number() OVER (ORDER BY sc.s6 DESC, c.vec_id) AS rn
        FROM c{i} c JOIN sc ON sc.vec_id = c.vec_id
      ) WHERE rn <= {beam}
    )"""
        )
        prev = f"b{i}"
    edge_h = md5_halves_sql(
        "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)"
    )[0]
    return f"""
    WITH pl AS (
      SELECT p.p AS p, d.d AS d,
             {md5_halves_sql("p.p || ':' || d.d")[0]}
               / 1152921504606846976.0 - 0.5 AS c
      FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS p) p
           CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) d
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings{
        f" WHERE {corpus_where}" if corpus_where else ""}),
    dots AS (
      SELECT vec_id, pl.p AS p, ROUND(SUM(ev[pl.d + 1] * pl.c), 6) AS dp
      FROM v, pl GROUP BY vec_id, pl.p
    ),
    bk AS MATERIALIZED (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dp > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS s
      FROM dots GROUP BY vec_id
    ),
    nrm AS MATERIALIZED (
      SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS n FROM v
    ),
    ed AS (
      SELECT src, dst FROM {fam_edges[0]}
      UNION
      SELECT src, dst FROM {fam_edges[1]}
    ),
    edges AS MATERIALIZED (
      SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed
    ),
    q AS (SELECT ev AS qv, n AS qn FROM nrm WHERE vec_id = {query_id}),
    sc AS MATERIALIZED (
      SELECT nrm.vec_id,
             ROUND(list_dot_product(nrm.ev, q.qv) / (nrm.n * q.qn), 6) AS s6,
             ROUND(list_dot_product(nrm.ev, q.qv) / (nrm.n * q.qn), 4) AS s4
      FROM nrm, q
    ),
    b0 AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT {n_entries}),
    {",".join(hop_ctes)},
    topk AS (
      SELECT b.vec_id, sc.s4 AS cos_sim
      FROM {prev} b JOIN sc ON sc.vec_id = b.vec_id
      ORDER BY sc.s4 DESC, b.vec_id LIMIT {k}
    ),
    exact10 AS (
      SELECT vec_id FROM sc ORDER BY s4 DESC, vec_id LIMIT 10
    ),
    hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS recall_hits
      FROM topk JOIN exact10 USING (vec_id)
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges{
        f''',
           CAST(SUM(({edge_h}) % {checksum_mod}) AS BIGINT)
             AS edge_checksum'''
        if checksum_mod else ""} FROM edges)
    SELECT t.vec_id, t.cos_sim, h.recall_hits, ne.n_edges{
        ", ne.edge_checksum" if checksum_mod else ""}
    FROM topk t, hits h, ne
    """
