"""Similarity search over embedding columns (``array<float>``).

- ``cosine``        : pure Column expression (F.zip_with + F.aggregate dot
                      product in double precision — JVM-side, no UDF).
- ``cosine_topk``   : brute-force scan baseline — one pass, k-row result
                      via TakeOrderedAndProject; at 100 TB this is the
                      exact-recall fallback and the re-rank stage.
- ``knn_join``      : small query set × big corpus via broadcast cross
                      join + per-query top-k window.
- ``lsh_ann``       : random-hyperplane LSH — signature is map-only, the
                      probe is an equality join on buckets, re-rank exact.
                      The scale path: touches only the matching buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.topk import top_k_per_group


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision (deterministic
    accumulation order — oracle-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_topk(
    emb: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k of one query vector against the corpus.
    ``query_df`` must be a single row ``(qv: array<double>)``; it is
    broadcast so the corpus scan stays shuffle-free."""
    scored = emb.crossJoin(F.broadcast(query_df)).select(
        F.col(id_col),
        F.round(cosine(as_double(vec_col), F.col("qv")), 4).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: ``q_i = halfup(x_i * 127 /
    max|x|)`` — the standard 4× memory / bandwidth reduction for
    embedding stores (the values stay in a double array here because
    Spark SQL has no int8 array, but every element is an exact integer
    in [-127, 127]).

    Two determinism choices make this oracle-reproducible bit-for-bit:
    half-up rounding via ``floor(x + 0.5)`` (identical in every engine,
    unlike ROUND's HALF_UP-vs-banker divergence) and integer-valued
    outputs, so downstream dot products are sums of ``int8*int8``
    products (≤ 127²·dim ≈ 10⁶ for dim 64) — exactly representable in
    doubles, hence independent of accumulation order."""
    sc = 127.0 / F.greatest(F.array_max(F.transform(vec, F.abs)), F.lit(1e-12))
    return F.transform(vec, lambda x: F.floor(x * sc + F.lit(0.5)).cast("double"))


def quantized_cosine_topk(
    emb: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine over int8-quantized vectors — the
    memory-bound scan path at 100 TB: 4× less data read per vector than
    float32, no shuffle (query broadcast, TakeOrderedAndProject), exact
    integer dot products. The per-vector scale factors cancel out of the
    cosine, so no dequantization step exists at all."""
    qcorpus = emb.select(
        F.col(id_col), quantize_int8(as_double(vec_col)).alias("q8")
    )
    qq = query_df.select(quantize_int8(F.col("qv")).alias("qq8"))
    scored = qcorpus.crossJoin(F.broadcast(qq)).select(
        F.col(id_col),
        cosine(F.col("q8"), F.col("qq8")).alias("qcos"),
    )
    return scored.orderBy(F.desc("qcos"), F.asc(id_col)).limit(k)


def knn_join(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for every query row (brute force; broadcast the
    query side). Output: (query_id, cand_id, cos_sim, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 4).alias("cos_sim"),
        )
    )
    ranked = top_k_per_group(
        scored,
        ["query_id"],
        [F.desc("cos_sim"), F.asc("cand_id")],
        k,
        rank_col="rank",
        keep_rank=True,
    )
    return ranked.withColumn("rank", F.col("rank").cast("int"))


def unit(vec: Column) -> Column:
    """L2-normalized copy of a double array."""
    n = F.sqrt(_dot(vec, vec))
    return F.transform(vec, lambda x: x / n)


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold. Exact formulation — correct at
    test scale; ``lsh_near_dup_pairs`` is the 100 TB path.

    Each side is unit-normalized ONCE before the pair join (n normalize
    ops), so every candidate pair costs a single dot product instead of
    three — the dominant cost in an O(n²) stage."""
    a = emb.select(F.col(id_col).alias("vec_a"), unit(as_double(vec_col)).alias("ua"))
    b = emb.select(F.col(id_col).alias("vec_b"), unit(as_double(vec_col)).alias("ub"))
    scored = a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a", "vec_b", _dot(F.col("ua"), F.col("ub")).alias("raw")
    )
    return scored.filter(F.col("raw") >= threshold).select(
        "vec_a", "vec_b", F.round("raw", 4).alias("cos_sim")
    )


def lsh_near_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 8,
    seed: int = 42,
    probe_bits: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_family: str = "gaussian",
) -> DataFrame:
    """Subquadratic near-dup pairs: hyperplane-signature buckets prune the
    pair space to within-bucket candidates, then the exact cosine filter
    runs only on those. Recall < 1 by construction (a near-dup pair
    landing in different buckets is missed) and rises with fewer planes
    or more ``probe_bits`` (one side also probes its bit-flip neighbor
    buckets, catching pairs whose signatures differ by ≤ probe_bits); at
    100 TB the equality join on ``bucket`` shuffles each vector
    1 + probed-buckets times, versus the exact form's O(n²) pair stream.

    Precision is exactly 1: every emitted pair passed the same exact
    cosine filter as the brute-force twin, so the output is always a
    subset of it.

    ``plane_family="portable"`` uses the md5-derived SQL-replayable
    planes with 6dp-rounded sign tests (``portable_hyperplanes``) — the
    oracle-checked registry variant."""
    portable = plane_family == "portable"
    planes = (
        portable_hyperplanes(dim, n_planes)
        if portable
        else hyperplanes(dim, n_planes, seed)
    )
    rdp = 6 if portable else None
    sig = emb.select(
        F.col(id_col),
        unit(as_double(vec_col)).alias("uv"),
        lsh_signature(as_double(vec_col), planes, round_dp=rdp).alias("bucket"),
    )
    # One side expands to its probe set; each pair (a < b) is discovered
    # at most once because a's probe masks are distinct and b keeps its
    # single true bucket.
    a = sig.select(
        F.col(id_col).alias("vec_a"),
        F.col("uv").alias("ua"),
        F.explode(probe_buckets(F.col("bucket"), n_planes, probe_bits)).alias(
            "bucket"
        ),
    )
    b = sig.select(
        F.col(id_col).alias("vec_b"), F.col("uv").alias("ub"), "bucket"
    )
    scored = (
        a.join(b, ["bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _dot(F.col("ua"), F.col("ub")).alias("raw"))
    )
    return scored.filter(F.col("raw") >= threshold).select(
        "vec_a", "vec_b", F.round("raw", 4).alias("cos_sim")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for signature hashing."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def portable_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """md5-derived uniform[-0.5, 0.5) hyperplanes: ``coef(p, d) =
    int(md5(f"{p}:{d}")[:15 hex], 16) / 2^60 - 0.5``.

    Exactly replayable in DuckDB SQL — the first ``md5_halves_sql``
    half of ``p || ':' || d``, / 2^60 - 0.5 — because both engines
    round the same 60-bit integer to the same IEEE double and the
    power-of-two division is an exact scaling; this is what upgrades the
    LSH registry gates from rows-only to full value-hash checks. Uniform cube
    directions are slightly anisotropic vs the gaussian family (corner
    directions over-weighted) but perfectly serviceable for sign
    hashing; ``hyperplanes`` (gaussian) stays the production default."""
    import hashlib as _hashlib

    return [
        [
            int(_hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16) / 2**60
            - 0.5
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def probe_buckets(bucket: Column, n_planes: int, probe_bits: int = 0) -> Column:
    """Multi-probe bucket set: the bucket itself plus every bucket within
    Hamming distance ``probe_bits`` of it (bit-flip neighbors). A vector
    near a hyperplane lands on either side with ~equal probability, so
    its true near neighbors concentrate in the 1-bit-flip buckets —
    probing them recovers most of the recall lost to quantization at the
    cost of ``1 + n_planes`` (+ ``n_planes choose 2`` at 2 bits) bucket
    lookups, still exponentially cheaper than a corpus scan."""
    masks = [0]
    if probe_bits >= 1:
        masks += [1 << i for i in range(n_planes)]
    if probe_bits >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return F.array(*[bucket.bitwiseXOR(F.lit(m)).cast("long") for m in masks])


def lsh_signature(
    vec: Column, planes: list[list[float]], round_dp: int | None = None
) -> Column:
    """Sign pattern of the vector against each hyperplane, packed into a
    long — a map-only expression (no UDF, no shuffle). ``round_dp``
    rounds each plane dot product before the sign test: the oracle
    replays the sum with a different accumulation order, and rounding to
    6dp puts the ~1e-13 order jitter 7 orders of magnitude below the
    decision boundary so both engines always agree on the bit."""

    def sgn(p: list[float]) -> Column:
        d = _dot(vec, F.array(*[F.lit(x) for x in p]))
        return d if round_dp is None else F.round(d, round_dp)

    bits = [
        F.when(sgn(p) > 0, F.lit(1 << i)).otherwise(0)
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def assign_clusters(vecs: DataFrame, cdf: DataFrame) -> DataFrame:
    """Add a ``cluster`` column: the cosine-argmax centroid id for each row.

    ``vecs`` must carry ``v`` (array<double>) and ``vn`` (its L2 norm);
    ``cdf`` is ``(cid, cv)``. The centroid set rides into the scan as ONE
    broadcast row holding an array of (cid, cv, cn) structs, and the
    argmax is a higher-order left fold over that array — plan size is
    CONSTANT in n_centroids (inlining every centroid vector as plan
    literals explodes the plan at thousands of centroids), and the
    assignment stays map-side with zero shuffle. Scores are rounded to
    6dp before the argmax and ties take the lowest centroid id (strict
    ``>`` against a cid-ascending fold order), so the assignment is
    engine-independent."""
    cent_row = F.broadcast(
        cdf.withColumn("cn", F.sqrt(_dot(F.col("cv"), F.col("cv")))).agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv", "cn"))).alias("cents")
        )
    )

    def _score(s: Column) -> Column:
        return F.round(_dot(F.col("v"), s["cv"]) / (F.col("vn") * s["cn"]), 6)

    best = F.aggregate(
        "cents",
        F.struct(
            F.lit(-2.0).alias("acos"), F.lit(-1).cast("long").alias("cid")
        ),
        lambda acc, s: F.when(
            _score(s) > acc["acos"],
            F.struct(_score(s).alias("acos"), s["cid"].cast("long").alias("cid")),
        ).otherwise(acc),
    )
    return vecs.crossJoin(cent_row).withColumn("cluster", best["cid"]).drop("cents")


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) centroid refinement: ``(cid, cv)``.

    Init is the deterministic seed set (lowest-id vectors). Each
    iteration is (a) map-side cosine-argmax assignment via ONE broadcast
    centroid row (``assign_clusters`` — zero shuffle), then (b) a
    per-(cluster, position) mean via posexplode + groupBy — an
    O(n × dim) keyed shuffle with map-side partial aggregation, never a
    collect of the corpus. That is the standard cluster-scale
    formulation: at 100 TB each iteration costs one scan plus one
    bounded shuffle, and the driver only ever holds n_centroids × dim
    doubles. A k-means|| init would change ONLY the seed ``cdf``; the
    lowest-id seed is kept for oracle reproducibility.

    Determinism: distributed double summation has no fixed accumulation
    order, so raw means jitter at ~1e-16. Components are rounded to 9dp
    after unit-normalization — 7 orders of magnitude above the jitter,
    far below quantization-relevant precision — making the returned
    centroids (and everything probed with them) run-stable. Empty
    clusters keep their previous centroid."""
    base = (
        emb.select(F.col(id_col).alias("_vid"), as_double(vec_col).alias("v"))
        .withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    cdf = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).cast("long").alias("cid"), as_double(vec_col).alias("cv")
    )
    for _ in range(n_iter):
        assigned = assign_clusters(base, cdf)
        means = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("cluster")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("pm")
            )
            .select(
                F.col("cluster").alias("cid"),
                F.transform("pm", lambda s: s["mx"]).alias("mv"),
            )
        )
        new_cv = F.transform(
            unit(F.col("mv")), lambda x: F.round(x, 9)
        )
        cdf = (
            cdf.join(means, "cid", "left")
            .select(
                "cid",
                F.when(F.col("mv").isNotNull(), new_cv)
                .otherwise(F.col("cv"))
                .alias("cv"),
            )
            # Materialize the n_centroids-row frame each round: without
            # this the loop's lineage compounds (every later use replays
            # ALL prior assign+mean rounds — the plan grows O(iter) wide
            # and O(iter²) deep), exactly the iterative-plan trap the CC
            # loop (llm/cluster.py) checkpoints against.
            .localCheckpoint(eager=True)
        )
    return cdf


def ivf_index(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build (or EXTEND) the IVF inverted-lists table: ``(id, v, vn,
    cluster)`` — one map-only assignment pass against the broadcast
    centroid row (``assign_clusters``), zero shuffle. Because
    assignment is per-row against FROZEN centroids, folding a new
    embedding batch into an existing index is ``ivf_index(new_batch,
    same_centroids)`` unioned onto the stored lists — the daily-growth
    operation at 100 TB costs one scan of the NEW rows only, no
    retrain, and is exactly equal to a full rebuild
    (``incremental_ivf_equiv`` gates this)."""
    base = (
        emb.select(F.col(id_col), as_double(vec_col).alias("v"))
        .withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    return assign_clusters(base, centroids)


def ivf_search_index(
    index: DataFrame,
    centroids: DataFrame,
    query_df: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a prebuilt IVF index: probe the ``nprobe`` lists nearest
    the query (broadcast semi-join — prunes the exact re-rank to
    ~nprobe/n_centroids of the corpus), exact cosine re-rank inside."""
    probe = (
        centroids.crossJoin(F.broadcast(query_df))
        .select("cid", F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("qc"))
        .orderBy(F.desc("qc"), F.asc("cid"))
        .limit(nprobe)
        .select("cid")
    )
    probed = index.join(
        F.broadcast(probe), index["cluster"] == probe["cid"], "left_semi"
    )
    return (
        probed.crossJoin(F.broadcast(query_df))
        .select(
            F.col(id_col),
            F.round(
                _dot(F.col("v"), F.col("qv"))
                / (F.col("vn") * F.sqrt(_dot(F.col("qv"), F.col("qv")))),
                4,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_ann_topk(
    emb: DataFrame,
    query_df: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into ``n_centroids`` inverted
    lists, probe the ``nprobe`` lists nearest the query, exact re-rank
    inside them.

    Default centroids are the vectors with the ``n_centroids`` smallest
    ids — deterministic, so the whole pipeline is oracle-reproducible.
    Pass ``centroids=(cid, cv)`` (e.g. from ``kmeans_centroids``) to swap
    in a refined quantizer; nothing else changes.

    Composed of ``ivf_index`` (map-side broadcast assignment) +
    ``ivf_search_index`` (broadcast probe semi-join + exact re-rank)."""
    if centroids is None:
        cdf = emb.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cid"), as_double(vec_col).alias("cv")
        )
    else:
        cdf = centroids.select("cid", "cv")
    index = ivf_index(emb, cdf, id_col=id_col, vec_col=vec_col)
    return ivf_search_index(
        index, cdf, query_df, nprobe=nprobe, k=k, id_col=id_col
    )


def lsh_ann_topk(
    emb: DataFrame,
    query_df: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    probe_bits: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_family: str = "gaussian",
) -> DataFrame:
    """ANN: bucket by hyperplane signature, probe the query's bucket (plus
    its ``probe_bits``-flip neighbor buckets — multi-probe), exact re-rank
    inside. At scale the bucket equality join prunes the corpus scan to
    ~corpus × (1 + probed buckets)/2^planes vectors; recall is tuned by
    n_planes and probe_bits. ``plane_family="portable"`` → md5-derived
    SQL-replayable planes with 6dp-rounded sign tests (oracle-checked
    registry variant)."""
    portable = plane_family == "portable"
    planes = (
        portable_hyperplanes(dim, n_planes)
        if portable
        else hyperplanes(dim, n_planes)
    )
    rdp = 6 if portable else None
    corpus = emb.select(
        F.col(id_col),
        as_double(vec_col).alias("cv"),
        lsh_signature(as_double(vec_col), planes, round_dp=rdp).alias("bucket"),
    )
    q = query_df.select(
        F.col("qv"),
        F.explode(
            probe_buckets(
                lsh_signature(F.col("qv"), planes, round_dp=rdp),
                n_planes,
                probe_bits,
            )
        ).alias("qbucket"),
    )
    # Each corpus vector lives in exactly one bucket and the probe masks
    # are distinct, so no corpus row can match twice — no dedup needed.
    probed = corpus.join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket"), "inner"
    ).select(
        F.col(id_col),
        F.round(cosine(F.col("cv"), F.col("qv")), 4).alias("cos_sim"),
    )
    return probed.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN path taken further than
# int8: 8 code bytes per 64-dim vector (32× vs float64, 8× vs int8), ADC
# scoring from a per-query lookup table, exact re-rank of the candidate
# pool. The FAISS-style IVFADC recipe minus the IVF stage (which
# ivf_ann_topk already provides and composes with).
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train per-subspace Lloyd codebooks on a BOUNDED sample (the lowest
    ``sample_n`` ids) collected to the driver — deliberately driver-side:
    PQ codebooks are always trained on a corpus sample in production
    (FAISS trains on ~100k of billions); the collect is O(sample_n × dim)
    regardless of corpus size. Deterministic: fixed sample, first-k
    init, fixed iteration count, numpy arithmetic. Returns an
    ``m × k × (dim//m)`` ndarray. Empty clusters keep their previous
    centroid. Vectors are L2-normalized before training so squared-L2
    ADC distance ranks like cosine."""
    import numpy as np

    rows = (
        emb.filter(F.col(id_col) < sample_n)
        .orderBy(id_col)
        .select(as_double(vec_col).alias("v"))
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    d = X.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    ds = d // m
    books = []
    for j in range(m):
        S = X[:, j * ds : (j + 1) * ds]
        C = S[:k].copy()
        for _ in range(iters):
            assign = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(k):
                pts = S[assign == c]
                if len(pts):
                    C[c] = pts.mean(0)
        books.append(C)
    return np.stack(books)


def pq_books_table(spark, books) -> DataFrame:
    """PQ codebooks as a persistable DataFrame — one row per
    (subspace ``j``, code ``c``) with the centroid vector: the ndarray's
    entire state, so the archive's versioned parquet commit becomes the
    PQ index's artifact store (``pq_artifact_roundtrip`` gates the
    roundtrip). m×k rows (8×32 here) — codebooks are a driver-side
    artifact by design (trained on a bounded sample, KBs total), so a
    table this size is the honest persistence unit, exactly like FAISS
    serializing its quantizer."""
    rows = [
        (int(j), int(c), [float(x) for x in books[j, c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    return spark.createDataFrame(rows, "j int, c int, cv array<double>")


def pq_books_from_table(bdf: DataFrame):
    """Rebuild the m×k×ds codebook ndarray from the persisted table.
    The collect is m×k rows (bounded KBs — the same driver-side budget
    as ``pq_train_codebooks``'s sample); float64 → parquet DOUBLE →
    float64 is exact, so loaded books are bit-identical to trained.

    Validation is a real exception, not ``assert`` (stripped under
    ``python -O``), and checks the (j, c) key SET against the full m×k
    grid — a row count alone would let a duplicate-plus-missing pair
    silently reshape centroids into the wrong slots."""
    rows = bdf.orderBy("j", "c").collect()
    if not rows:
        raise ValueError("codebook table is empty")
    m = 1 + max(r["j"] for r in rows)
    k = 1 + max(r["c"] for r in rows)
    seen = {(r["j"], r["c"]) for r in rows}
    grid = {(j, c) for j in range(m) for c in range(k)}
    if len(rows) != m * k or seen != grid:
        raise ValueError(
            "codebook table is not the exact m×k grid: "
            f"{len(rows)} rows, missing={sorted(grid - seen)[:4]}, "
            f"dupes={len(rows) - len(seen)}"
        )
    return np.array([r["cv"] for r in rows], dtype=np.float64).reshape(
        m, k, -1
    )


def pq_ann_topk(
    emb: DataFrame,
    query_df: DataFrame,
    books,
    k: int = 10,
    pool: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC candidate scan + exact re-rank: encode each corpus vector
    to ``m`` code bytes (argmin centroid per subspace), score against
    the query's precomputed ADC table (one numpy gather per row — the
    scan reads code bytes, not vectors, which is the whole point at
    100 TB), TakeOrdered the ``pool`` best candidates, then re-rank the
    pool EXACTLY by cosine and return the top ``k``. Re-ranking a
    bounded pool is what turns PQ's lossy 4-bit-per-subspace recall
    (~4-5/10 raw here on clusterless synthetic vectors) into ~10/10 —
    the standard coarse-then-exact contract. The Arrow kernel carries
    the codebooks in its closure (m·k·dim/m doubles ≈ KBs); the query's
    ADC table is computed driver-side from the single collected query
    row."""
    import numpy as np

    q = np.array(
        query_df.select(F.col("qv")).first()["qv"], dtype=np.float64
    )
    q /= np.linalg.norm(q)
    m, kk, ds = books.shape
    tab = np.stack(
        [((q[j * ds : (j + 1) * ds][None, :] - books[j]) ** 2).sum(-1) for j in range(m)]
    )  # m × k ADC table

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            X = np.stack(pdf["v"].to_numpy())
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            adc = np.zeros(len(X))
            for j in range(m):
                codes = (
                    ((X[:, j * ds : (j + 1) * ds][:, None, :] - books[j][None, :, :]) ** 2)
                    .sum(-1)
                    .argmin(1)
                )
                adc += tab[j, codes]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "adc": adc})

    scored = emb.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("v")
    ).mapInPandas(kernel, schema="vec_id long, adc double")
    cand = scored.orderBy(F.asc("adc"), F.asc("vec_id")).limit(pool).select("vec_id")
    pool_vecs = emb.join(F.broadcast(cand), emb[id_col] == cand["vec_id"], "left_semi")
    return cosine_topk(pool_vecs, query_df, k=k, id_col=id_col, vec_col=vec_col)


def pq_encode(
    emb: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes under FROZEN codebooks: ``(vec_id,
    codes array<int>)`` — m argmin-centroid bytes per vector, map-only
    Arrow kernel (codebooks ride the closure). Per-row deterministic
    against frozen books, so encoding a NEW batch and unioning onto the
    stored code table is exactly equal to re-encoding the whole corpus
    (``incremental_pq_equiv`` gates this) — the daily-growth operation
    for a 100 TB PQ store: one scan of the new rows, no codebook
    retrain. ``pq_ann_topk`` keeps the fused encode+score kernel for
    the one-shot path; this split form is the STORED-codes path (the
    scan that matters at scale reads 8 code bytes per vector, not the
    vector)."""
    import numpy as np

    m, kk, ds = books.shape

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            X = np.stack(pdf["v"].to_numpy())
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            cols = []
            for j in range(m):
                cols.append(
                    ((X[:, j * ds : (j + 1) * ds][:, None, :]
                      - books[j][None, :, :]) ** 2)
                    .sum(-1)
                    .argmin(1)
                )
            codes = np.stack(cols, axis=1).astype(int)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes.tolist())}
            )

    return emb.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("v")
    ).mapInPandas(kernel, schema="vec_id long, codes array<int>")


def pq_topk_from_codes(
    codes_df: DataFrame,
    emb: DataFrame,
    query_df: DataFrame,
    books,
    k: int = 10,
    pool: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC search over a STORED code table: score each code row
    against the query's precomputed m×k ADC table (one numpy gather —
    the scan never touches the vectors), TakeOrdered the ``pool`` best,
    exact cosine re-rank of the pool, top ``k``."""
    import numpy as np

    q = np.array(query_df.select(F.col("qv")).first()["qv"], dtype=np.float64)
    q /= np.linalg.norm(q)
    m, kk, ds = books.shape
    tab = np.stack(
        [((q[j * ds : (j + 1) * ds][None, :] - books[j]) ** 2).sum(-1)
         for j in range(m)]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            C = np.stack(pdf["codes"].to_numpy()).astype(int)
            adc = tab[np.arange(m)[None, :], C].sum(1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "adc": adc})

    scored = codes_df.select("vec_id", "codes").mapInPandas(
        kernel, schema="vec_id long, adc double"
    )
    cand = scored.orderBy(F.asc("adc"), F.asc("vec_id")).limit(pool).select(
        "vec_id"
    )
    pool_vecs = emb.join(
        F.broadcast(cand), emb[id_col] == cand["vec_id"], "left_semi"
    )
    return cosine_topk(pool_vecs, query_df, k=k, id_col=id_col, vec_col=vec_col)


def label_centroids(vecs: DataFrame, scale: int = 1000) -> DataFrame:
    """Per-label embedding centroids in FIXED-POINT arithmetic so the
    result is bit-reproducible in any engine: each component is first
    quantized to ``floor(v * scale)`` (float→double cast is exact, the
    multiply and floor are IEEE-determined), the per-(label, dim) sum is
    then an exact integer — associative, so accumulation order across
    partitions cannot change it — and the mean divides back out at the
    end (truncated to 4 decimals). The orthodox float mean would be
    order-dependent and could hash-differently between Spark and the
    oracle; quantize-sum-divide is the standard determinism trick for
    cross-engine centroid parity.

    Shape: posexplode to (label, dim, q) — rows = n_vecs × dim — then
    ONE map-side-combinable hash aggregate; the exchange carries only
    (label, dim) partials, i.e. |labels| × dim rows. Reassembly sorts
    each label's dims into an array. At 100 TB this is the canonical
    two-level combine; no driver-side state.

    Columns: (label, n_vecs, centroid array<double>)."""
    q = vecs.select(
        "label",
        "vec_id",
        F.posexplode(as_double("embedding")).alias("dim", "v"),
    ).select(
        "label",
        "vec_id",
        "dim",
        F.floor(F.col("v") * scale).cast("long").alias("q"),
    )
    per_dim = q.groupBy("label", "dim").agg(
        F.sum("q").alias("qs"),
        F.count("*").alias("n"),
    )
    mean = F.floor(F.col("qs") / (F.col("n") * F.lit(float(scale))) * 10000) / 10000.0
    return (
        per_dim.select("label", "dim", F.col("n").alias("n_vecs"), mean.alias("m"))
        .groupBy("label")
        .agg(
            F.max("n_vecs").cast("long").alias("n_vecs"),
            F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"),
        )
        .select(
            "label",
            "n_vecs",
            F.transform(F.col("dm"), lambda s: s["m"]).alias("centroid"),
        )
    )
