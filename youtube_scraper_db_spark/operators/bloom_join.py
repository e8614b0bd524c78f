"""Bloom runtime-filter join pruning — the approximate-membership
semi-join reduction a 100 TB fact⋈dim join leans on when the dim side
is too big to broadcast as ROWS but its membership fits in a few hundred
KB of hash positions (Spark's own adaptive variant is
``spark.sql.optimizer.runtime.bloomFilter.enabled``, exercised in
tests/test_runtime_filters.py — this module is the EXPLICIT, plannable
operator with an oracle-replayable hash family; reference parity: the
scraper's keyed reconciliation joins — ref main_scraper.py:144-179
(sync_playlist_videos_db) and import_playlists.py:42-49
(insert-if-absent) — are this fact⋈dim shape once the video table
outgrows a broadcast).

Shape at scale:
- ``bloom_pos_mask`` folds the dim side's join keys into ONE row holding
  an ``array<bigint>`` of m_bits/64 packed words (the default 2^20 bits
  = 16384 longs = 128 KB — broadcast-trivial) — a distinct over hash
  positions + a word-or aggregate, all map-side combinable, O(m_bits)
  output whatever the data volume. The carrier is an ARRAY, not a map:
  Spark map lookups are linear scans of UnsafeMapData, and the first
  cut's 16k-entry map made each probe an O(16k) comparison loop (~50 s
  at sf0.1); UnsafeArrayData indexes O(1).
- ``bloom_prune`` broadcast-crossJoins that 1-row mask to the fact side
  (the plan-lint-allowlisted scalar BNLJ) and evaluates all k bit tests
  as native Column expressions (O(1) array index + ``bit_get`` — no
  explode, no shuffle, no Python): the fact scan shrinks BEFORE the
  join's exchange, which is the entire point — the shuffle moves only
  rows that can possibly match, plus the bounded false-positive leak
  ≈ (1-e^{-kn/m})^k of the non-matchers.
- ``bloom_pruned_join`` then runs the EXACT equi-join on the pruned
  fact: false positives fall out of the join itself, so the result is
  row-identical to the unpruned join — no false negatives exist — which
  is what lets the driver oracle this operator with plain-join SQL.

Size m_bits ~ 10× the dim key count for ≲1% fp (2^20 covers ~10^5
keys; a saturated mask stays EXACT but prunes nothing). Past ~10^7
keys a single-row array stops being the right carrier — use Spark's
built-in runtime bloom (BloomFilterAggregate) or partition the mask;
this operator's value is the EXPLICIT plan + the
md5/Kirsch-Mitzenmacher portable family (functions/portable_hash.py)
that DuckDB replays value-for-value, false positives included.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.portable_hash import km_mix, km_mix_sql, md5_halves, md5_halves_sql


def _check_m_bits(m_bits: int) -> None:
    """The packed-word carrier holds exactly m_bits/64 longs; a
    non-multiple-of-64 m_bits would let positions >= (m_bits//64)*64
    index past the array, where try_element_at yields NULL → coalesce
    0 → a true member testing NEGATIVE, silently breaking the
    no-false-negatives contract every caller relies on. Guard, not a
    behavior change: all in-repo callers use powers of two."""
    if m_bits <= 0 or m_bits % 64 != 0:
        raise ValueError(
            f"m_bits must be a positive multiple of 64, got {m_bits}"
        )


def _positions(key_col: Column, k: int, m_bits: int) -> list[Column]:
    """The k Bloom positions of one key — md5 halves mixed per seed,
    mod the bit-space (hashes are 60-bit non-negative, so ``%`` is a
    true modulus in both engines)."""
    h1, h2 = md5_halves(key_col.cast("string"))
    return [km_mix(h1, h2, i) % F.lit(m_bits) for i in range(k)]


def bloom_pos_mask(
    dim: DataFrame, key: str, k: int = 5, m_bits: int = 1 << 20
) -> DataFrame:
    """ONE row ``(mask: array<bigint>)``: the Bloom filter over
    ``dim.key`` packed into m_bits/64 little-endian 64-bit words.
    Probers index the array — O(1) per lookup (UnsafeArrayData is a
    flat buffer; a MAP carrier here was the round-11 lesson: Spark map
    lookups are LINEAR scans, and a 16k-entry mask map turned the probe
    into ~50 s of comparisons at sf0.1). Empty dim → all-zero words
    (every probe misses, pruning everything: exact, since nothing
    joins either)."""
    _check_m_bits(m_bits)
    nwords = m_bits // 64
    # no distinct before the word aggregate: bit_or is idempotent, so
    # duplicate positions fold away in the map-side partial aggregation
    # (Catalyst's RemoveRedundantAggregates was already eliminating the
    # explicit distinct here — verified plan-identical — so this just
    # says in code what the optimizer was doing)
    pos = (
        dim.where(F.col(key).isNotNull())
        .select(F.explode(F.array(*_positions(F.col(key), k, m_bits))).alias("pos"))
    )
    words = pos.groupBy(
        F.shiftright(F.col("pos"), 6).cast("int").alias("w")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("word")
    )
    # densify via an index join + order-pinned collect — NOT a
    # transform-over-map fold: try_element_at on a Spark map is a
    # linear scan, and 16384 lookups × a 16k-entry map burned ~18 s on
    # one task (data-size-INDEPENDENT — it throttled even sf0.01)
    idx = dim.sparkSession.range(nwords).select(
        F.col("id").cast("int").alias("w")
    )
    dense = idx.join(F.broadcast(words), "w", "left").select(
        "w", F.coalesce("word", F.lit(0)).cast("long").alias("word")
    )
    return dense.agg(
        F.array_sort(F.collect_list(F.struct("w", "word"))).alias("sw")
    ).select(F.expr("transform(sw, x -> x.word)").alias("mask"))


def _mix_tests(
    h1: Column, h2: Column, mask: Column, k: int, m_bits: int
) -> Column:
    """AND-fold of the k bit tests given PRE-COMPUTED hash halves —
    pure integer arithmetic + O(1) array indexes + ``bit_get``."""
    tests = []
    for i in range(k):
        p = km_mix(h1, h2, i) % F.lit(m_bits)
        word = F.coalesce(
            F.try_element_at(mask, F.shiftright(p, 6).cast("int") + F.lit(1)),
            F.lit(0).cast("long"),
        )
        tests.append(
            F.bit_get(word, (p % F.lit(64)).cast("int")) == F.lit(1)
        )
    return reduce(lambda a, b: a & b, tests)


def might_contain(
    key_col: Column, mask: Column | str, k: int = 5, m_bits: int = 1 << 20
) -> Column:
    """All-k-bits-set membership test against a packed word array —
    pure Column arithmetic (codegen, no UDF). ``mask`` is the word
    array as a Column or a column NAME (resolved via ``F.col(mask)``).
    NULL keys test False (a NULL never equi-joins, so pruning it is
    exact). NOTE: this inline form re-evaluates the md5 inside each
    position expression — fine for one-off predicates; the hot path
    (``bloom_prune``) pre-projects the hash halves once per row
    instead."""
    _check_m_bits(m_bits)
    h1, h2 = md5_halves(key_col.cast("string"))
    mask_col = F.col(mask) if isinstance(mask, str) else mask
    return key_col.isNotNull() & _mix_tests(h1, h2, mask_col, k, m_bits)


def bloom_prune(
    fact: DataFrame,
    fact_key: str,
    mask_row: DataFrame,
    k: int = 5,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """``fact`` rows whose ``fact_key`` the Bloom mask might contain —
    the pre-shuffle scan reduction. The 1-row mask broadcasts (scalar
    BNLJ); the md5 halves are PRE-PROJECTED once per row in whole-stage
    codegen below the join (a BNLJ condition gets no common-subexpression
    elimination, so inlining the hash would evaluate md5 2k× per row —
    the second round-11 probe lesson), leaving only integer mixes, O(1)
    array indexes and bit tests in the condition."""
    _check_m_bits(m_bits)
    md = F.md5(F.col(fact_key).cast("string").cast("binary"))
    pre = (
        fact.where(F.col(fact_key).isNotNull())
        .withColumn("__bj_md", md)
        .withColumn(
            "__bj_h1",
            F.conv(F.substring("__bj_md", 1, 15), 16, 10).cast("long"),
        )
        .withColumn(
            "__bj_h2",
            F.conv(F.substring("__bj_md", 17, 15), 16, 10).cast("long"),
        )
        .drop("__bj_md")
    )
    return (
        pre.crossJoin(F.broadcast(mask_row))
        .where(
            _mix_tests(
                F.col("__bj_h1"), F.col("__bj_h2"), F.col("mask"), k, m_bits
            )
        )
        .drop("mask", "__bj_h1", "__bj_h2")
    )


def bloom_pruned_join(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    k: int = 5,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Exact inner equi-join with a Bloom-pruned fact side. Result is
    row-identical to ``fact.join(dim, fact_key == dim_key)``: the prune
    only drops rows with no partner (false positives leak through and
    the join eliminates them; false negatives cannot exist)."""
    mask = bloom_pos_mask(dim, dim_key, k, m_bits)
    pruned = bloom_prune(fact, fact_key, mask, k, m_bits)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], "inner")


def bloom_prune_pass_count_sql(
    fact_table: str,
    fact_key: str,
    dim_table: str,
    dim_key: str,
    dim_where: str,
    k: int = 5,
    m_bits: int = 1 << 20,
) -> str:
    """DuckDB replay of the PRUNED fact-row count: a fact row passes iff
    every one of its k positions is in the dim side's distinct position
    set (position-set membership ≡ the map lookups engine-side). Counts
    fact ROWS (keys re-joined to the fact table), matching
    ``bloom_prune(...).count()``."""
    mixes = [km_mix_sql(i) for i in range(k)]
    dim_pos = " UNION ALL ".join(
        f"SELECT ({m}) % {m_bits} AS pos FROM dh" for m in mixes
    )
    fact_pos = " UNION ALL ".join(
        f"SELECT rid, ({m}) % {m_bits} AS pos FROM fh" for m in mixes
    )
    dh1, dh2 = md5_halves_sql(f"CAST({dim_key} AS VARCHAR)")
    fh1, fh2 = md5_halves_sql("CAST(rid AS VARCHAR)")
    return f"""
    WITH dh AS (
      SELECT DISTINCT
             {dh1} AS h1, {dh2} AS h2
      FROM {dim_table} WHERE ({dim_where}) AND {dim_key} IS NOT NULL
    ),
    bits AS (SELECT DISTINCT pos FROM ({dim_pos})),
    fk AS (
      SELECT DISTINCT {fact_key} AS rid FROM {fact_table}
      WHERE {fact_key} IS NOT NULL
    ),
    fh AS (
      SELECT rid,
             {fh1} AS h1, {fh2} AS h2
      FROM fk
    ),
    fp AS (SELECT DISTINCT rid, pos FROM ({fact_pos})),
    passing AS (
      SELECT rid FROM fp LEFT JOIN bits b USING (pos)
      GROUP BY rid HAVING COUNT(*) = COUNT(b.pos)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt
    FROM {fact_table} f JOIN passing p ON f.{fact_key} = p.rid
    """


def bloom_tag(
    fact: DataFrame,
    fact_key: str,
    mask_row: DataFrame,
    k: int = 5,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """``fact`` plus a ``__maybe`` boolean: the membership test against
    a prebuilt 1-row packed mask, md5 halves pre-projected once per row
    (the ``bloom_prune`` codegen discipline). One probe pass can then
    serve several consumers — the anti-join split AND the shuffled-row
    count — instead of re-hashing the fact table per consumer (r13
    optimization round). ``__maybe`` is False for NULL keys (a NULL
    never equi-joins)."""
    _check_m_bits(m_bits)
    md = F.md5(F.col(fact_key).cast("string").cast("binary"))
    pre = (
        fact.withColumn("__bj_md", md)
        .withColumn(
            "__bj_h1",
            F.conv(F.substring("__bj_md", 1, 15), 16, 10).cast("long"),
        )
        .withColumn(
            "__bj_h2",
            F.conv(F.substring("__bj_md", 17, 15), 16, 10).cast("long"),
        )
        .drop("__bj_md")
    )
    return (
        pre.crossJoin(F.broadcast(mask_row))
        .withColumn(
            "__maybe",
            F.col(fact_key).isNotNull()
            & _mix_tests(
                F.col("__bj_h1"), F.col("__bj_h2"), F.col("mask"), k, m_bits
            ),
        )
        .drop("mask", "__bj_h1", "__bj_h2")
    )


def bloom_anti_from_tagged(
    tagged: DataFrame, fact_key: str, dim: DataFrame, dim_key: str
) -> DataFrame:
    """Exact LEFT ANTI join over a ``bloom_tag`` result: definite
    non-members (``NOT __maybe``) bypass the join; only the maybe
    minority pays the exact anti-join exchange. See
    ``bloom_pruned_anti_join`` for the exactness argument."""
    definite_new = tagged.where(~F.col("__maybe")).drop("__maybe")
    maybe = tagged.where(F.col("__maybe")).drop("__maybe")
    resolved = maybe.join(
        dim, maybe[fact_key] == dim[dim_key], "left_anti"
    )
    return definite_new.unionByName(resolved)


def bloom_pruned_anti_join(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    k: int = 5,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Exact LEFT ANTI join with Bloom short-circuiting — the diff-sync
    / decontamination shape at 100 TB (reference parity: the scraper's
    insert-if-absent and new-only sync paths, ref
    import_playlists.py:42-49 and main_scraper.py:144-179): rows whose
    key FAILS the membership test are DEFINITE non-members (no false
    negatives), so they enter the result with no shuffle at all; only
    the maybe-present minority — true members plus the bounded
    false-positive leak — pays the exact anti-join's exchange. On an
    append-mostly workload (most fact rows new) this moves the
    anti-join's shuffle from O(fact) to O(matches + fp), the mirror
    image of ``bloom_pruned_join``'s semi reduction.

    Exactness: result = (fact ∖ maybe) ∪ anti_join(maybe, dim) — every
    true member tests maybe (no false negatives), so the first term
    contains only true non-members; the second term resolves the fps
    exactly. Row-identical to the plain anti join (duplicates kept:
    both branches preserve fact-row multiplicity; a NULL fact key tests
    NOT-maybe and lands in the first branch, matching LEFT ANTI
    semantics — NULL never equals any dim key)."""
    mask = bloom_pos_mask(dim, dim_key, k, m_bits)
    tagged = bloom_tag(fact, fact_key, mask, k, m_bits)
    return bloom_anti_from_tagged(tagged, fact_key, dim, dim_key)


def bloom_mask_merge(mask_a: DataFrame, mask_b: DataFrame) -> DataFrame:
    """Union two packed-word masks: element-wise OR of the word arrays
    (1-row × 1-row cross, zip_with — pure codegen). Bit-union is
    associative/commutative, so the merged words are IDENTICAL to the
    mask built over the combined dim input — the mergeability property
    that lets per-partition / per-day runtime filters roll up without
    re-hashing any keys (the ``bloom_mask_union_merge`` gate asserts
    word-for-word equality, the bloom_merge/bloom_union_merge contract
    restated for the packed carrier)."""
    a = mask_a.select(F.col("mask").alias("__ma"))
    b = mask_b.select(F.col("mask").alias("__mb"))
    return a.crossJoin(F.broadcast(b)).select(
        F.zip_with("__ma", "__mb", lambda x, y: x.bitwiseOR(y)).alias("mask")
    )
