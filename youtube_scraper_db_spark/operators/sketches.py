"""Probabilistic sketches — the sublinear-state summaries a 100 TB
pipeline leans on where exact answers would shuffle the world:
HyperLogLog distinct counting, Count-Min frequency estimation, Bloom
membership pruning, histogram quantiles. (The exact counterparts ship
elsewhere in the repo: salted exact distinct, Misra-Gries heavy
hitters with exact recount, semi-join membership — these sketches are
the bounded-memory scale path, and the gates measure them AGAINST
those exact answers.)

Determinism/oracle contract (same device as the portable MinHash,
llm/dedup.py): every hash is derived from md5 — ``h1/h2`` are the two
60-bit halves of one digest, seeded variants are Kirsch-Mitzenmacher
mixes ``(h1 + i·h2) mod 2^60`` with the multiply split at 30 bits so
every intermediate stays under 2^61 in BOTH engines (Java longs would
wrap, DuckDB BIGINTs would raise; the split makes them compute the
same exact integers). Both engine forms live in
functions/portable_hash.py. DuckDB therefore replays every sketch
value-for-value, including the sketch's approximation error — the
driver gate hash-checks the ESTIMATES, not just invariants.

Group columns (``by``): each family has ONE core, and every core takes
``by``, a tuple of column names — empty for the scalar sketch. A
grouped sketch is the scalar sketch computed per group: the group
columns join the cell identity (HLL bucket, CMS (row, slot), Bloom
bit, histogram bin), so no cell is shared across groups and every
group's table obeys the scalar guarantees on its own. Rows whose key
or any group column is NULL are dropped; outputs lead with the group
columns under their own names, and group names must not collide with
the sketch's own columns (k, pos, row, slot, bucket, rho, bin, cnt,
lo, hi, n). The oracle twins take the same ``by``. One pair stays two
paths because the plans differ: the grouped Bloom probe asks every
group about every key, so it cross joins the broadcast group list
with the probe keys; the scalar probe has one group and joins the keys
directly (no nested-loop join). (The KMV twin, operators/kmv.py, keeps
its two bottom-k builders for the same reason.)

Scale shape: every sketch is one hash-keyed aggregate over key-sized
rows (map-side partial combine does the heavy lifting); register /
counter / bit-position tables are O(groups × sketch size), never
O(data). Production would swap md5 → xxhash64 for throughput — a
one-line change per sketch that keeps every plan identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable_hash import km_mix, km_mix_sql, md5_halves, md5_halves_sql
from . import sliding

By = Sequence[str]


def _h1h2(col: Column) -> tuple[Column, Column]:
    # keys are cast to string first: sketches hash arbitrary key types
    return md5_halves(col.cast("string"))


def _notnull(*cols: str) -> Column:
    cond = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        cond = cond & F.col(c).isNotNull()
    return cond


def _join_by(a: DataFrame, b: DataFrame, by: By) -> DataFrame:
    """``a`` ⋈ ``b`` on the group columns — for the scalar sketch (no
    group columns) a cross join of one-row frames."""
    return a.join(b, list(by)) if by else a.crossJoin(b)


def _km_cells(
    df: DataFrame, keep: By, key: str, n: int, mod: int, row: bool = False
) -> DataFrame:
    """The k-position explode: each row's ``key`` hashed ONCE to its md5
    halves, then expanded to its ``n`` seeded positions
    ``km_mix(h1, h2, i) % mod`` — Bloom bit positions (``pos``) or,
    with ``row``, Count-Min cells (``row``, ``slot``); ``keep`` columns
    ride along. The halves are bound in their own projection before the
    explode: inlining them into every seed would carry n×2 md5 subtrees
    and lean on codegen CSE this codebase deliberately doesn't trust."""
    h1, h2 = _h1h2(F.col(key))
    pos = [
        km_mix(F.col("__h1"), F.col("__h2"), i) % F.lit(mod) for i in range(n)
    ]
    if row:
        cells = [
            F.struct(F.lit(i).alias("row"), p.alias("slot"))
            for i, p in enumerate(pos)
        ]
        exploded, out = F.explode(F.array(*cells)).alias("rs"), ["rs.row", "rs.slot"]
    else:
        exploded, out = F.explode(F.array(*pos)).alias("pos"), ["pos"]
    return (
        df.select(*keep, h1.alias("__h1"), h2.alias("__h2"))
        .select(*keep, exploded)
        .select(*keep, *out)
    )


# --- SQL building blocks ------------------------------------------------


def _pre(by: By, alias: str = "") -> str:
    """``"a.g1, a.g2, "`` — the group columns as a select-list prefix."""
    return "".join(f"{alias}{c}, " for c in by)


def _notnull_sql(*cols: str) -> str:
    return " AND ".join(f"{c} IS NOT NULL" for c in cols)


def _group_by_sql(by: By) -> str:
    return f" GROUP BY {', '.join(by)}" if by else ""


def _km_sql(src: str, keep: str, n: int, mod: int, row: bool = False) -> str:
    """SQL twin of ``_km_cells``: the ``n`` seeded positions of every
    (h1, h2) row of ``src`` as one UNION ALL (``keep`` is a select-list
    prefix)."""
    return " UNION ALL ".join(
        f"SELECT {keep}{i} AS row, ({km_mix_sql(i)}) % {mod} AS slot FROM {src}"
        if row
        else f"SELECT {keep}({km_mix_sql(i)}) % {mod} AS pos FROM {src}"
        for i in range(n)
    )


def _halves_cte(name: str, table: str, key: str, where: str = "", cols: str = "") -> str:
    """CTE of the distinct (``cols``, h1, h2) rows of non-null ``key``."""
    h1, h2 = md5_halves_sql(f"CAST({key} AS VARCHAR)")
    return f"""
    {name} AS (
      SELECT DISTINCT {cols}{h1} AS h1, {h2} AS h2
      FROM {table} WHERE {key} IS NOT NULL{where}
    )"""


def _ck_sql(canon: str, mod: int) -> str:
    """Artifact-checksum SQL over canonical strings (first md5 half,
    reduced mod ``mod``, summed) — the one SQL form, used through the
    registry's ``_artifact_checksum_sql`` too; ``artifact_stats`` is its
    Spark twin."""
    h1, _ = md5_halves_sql(canon)
    return f"CAST(SUM(({h1}) % {mod}) AS BIGINT)"


def _union_sql(
    ctes: str,
    cols: str,
    rels: str,
    art: tuple[str, str, str, int] | None = None,
) -> str:
    """Tail of the merge-gate oracles. ``art`` = (source CTE, count
    column, canonical string, checksum mod) turns the merge replay into
    the persistence+fold gate's: the source CTE is the SAVED artifact,
    and its row count and canonical checksum ride along."""
    if art is None:
        return f"WITH {ctes}\n    SELECT {cols}\n    FROM {rels}"
    src, count_col, canon, mod = art
    return f"""WITH {ctes},
    art AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS {count_col},
             {_ck_sql(canon, mod)} AS saved_checksum
      FROM {src}
    )
    SELECT (SELECT {count_col} FROM art) AS {count_col},
           (SELECT saved_checksum FROM art) AS saved_checksum, {cols},
           CAST(1 AS INT) AS artifact_version
    FROM {rels}"""


def _same_sql(a: str, b: str, cols: str) -> str:
    """SQL twin of ``same_rows``: TRUE when relations ``a`` and ``b``
    hold the same ``cols`` rows with the same multiplicities
    (``EXCEPT ALL`` both ways; set operations compare NULLs as equal,
    as Spark's grouping does)."""
    return f"""NOT EXISTS (
             (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})
             UNION ALL
             (SELECT {cols} FROM {b} EXCEPT ALL SELECT {cols} FROM {a}))"""


# --- the Spark twins: merge witness and artifact tail -----------------


def msdiff_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """Multiset-difference witness: one ``one``-column row per distinct
    row-value whose multiplicity differs between two frames with the
    same column names (``a``'s columns are compared). Its emptiness is
    every sketch family's merge law — the merged table equals the
    directly built table, cell for cell — and the equality witness of
    the registry's rebuild and fold gates.

    Emptiness is exactly that of ``a.exceptAll(b).union(b.exceptAll(a))``,
    but the exceptAll shape executes BOTH input plans twice inside the
    final job (the left/right roles differ, so ReuseExchange never
    fires; confirmed in the r13 before-plans), while this shape
    aggregates each side once and joins the counts. groupBy and the
    null-safe count compare share Spark's NULL==NULL / NaN==NaN /
    -0.0==0.0 grouping semantics with exceptAll (all three are
    hash-aggregate keyings). The right side's columns are renamed
    before the join so common-lineage inputs cannot trip self-join
    ambiguity."""
    cols = list(a.columns)
    ca = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("__ca"))
    cb = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("__cb")).select(
        *[F.col(c).alias(f"__b_{c}") for c in cols], "__cb"
    )
    cond = None
    for c in cols:
        eq = F.col(c).eqNullSafe(F.col(f"__b_{c}"))
        cond = eq if cond is None else (cond & eq)
    return (
        ca.join(cb, cond, "full_outer")
        .where(~F.col("__ca").eqNullSafe(F.col("__cb")))
        .select(F.lit(1).alias("one"))
    )


def same_rows(a: DataFrame, b: DataFrame, name: str) -> DataFrame:
    """One row, one boolean column ``name``: ``msdiff_rows(a, b)`` is
    empty."""
    return msdiff_rows(a, b).agg((F.count(F.lit(1)) == 0).alias(name))


def artifact_stats(
    saved: DataFrame, cols: By, mod: int, rows: str, checksum: str = "saved_checksum"
) -> DataFrame:
    """One row (``rows``, ``checksum``) over a saved artifact table: its
    row count and the Spark twin of ``_ck_sql`` — the first md5 half of
    each row's canonical string (the string forms of ``cols`` joined by
    ``:``), reduced mod ``mod`` and summed, so the checksum is
    independent of row order."""
    parts = [F.col(c).cast("string") for c in cols]
    h1, _ = md5_halves(parts[0] if len(parts) == 1 else F.concat_ws(":", *parts))
    return saved.agg(
        F.count(F.lit(1)).cast("long").alias(rows),
        F.sum(h1 % F.lit(mod)).cast("long").alias(checksum),
    )


def artifact_tail(
    saved: DataFrame, cols: By, mod: int, rows: str, body: DataFrame, version: int
) -> DataFrame:
    """Spark twin of ``_union_sql``'s ``art`` tail: the saved table's
    row count and ``saved_checksum`` (``artifact_stats``), then the
    one-row ``body``, then ``artifact_version`` — the column order the
    oracle emits."""
    return (
        artifact_stats(saved, cols, mod, rows)
        .crossJoin(body)
        .withColumn("artifact_version", F.lit(version).cast("int"))
    )


# --- HyperLogLog ------------------------------------------------------

def hll_bucket_rho(key: Column, p: int = 9) -> tuple[Column, Column]:
    """(bucket, rho) expressions for one key column — the per-row half
    of the HLL pipeline, shared by the batch aggregate below and the
    STREAMING register maintenance gate (registry
    ``stream_hll_distinct_users``). bucket = top ``p`` bits of the
    60-bit hash; rho = position of the leftmost 1-bit in the remaining
    60-p bits (all-zero tail → 60-p+1, the standard convention).
    bit_length is computed EXACTLY as the count of powers of two ≤ tail
    (w integer comparisons, all codegen — no float log2 anywhere, so
    the oracle replays it with the identical CASE sum)."""
    h1, _ = _h1h2(key)
    bucket = F.shiftright(h1, 60 - p)
    tail = h1.bitwiseAND(F.lit((1 << (60 - p)) - 1))
    w = 60 - p
    bits = None
    for k in range(w):
        term = (tail >= F.lit(1 << k)).cast("int")
        bits = term if bits is None else bits + term
    rho = F.lit(w + 1) - bits
    return bucket, rho


def hll_registers(
    df: DataFrame, key: str, p: int = 9, by: By = ()
) -> DataFrame:
    """(*by, bucket, rho): the 2^p HyperLogLog registers of ``key`` per
    group — one hash-keyed aggregate over the ``hll_bucket_rho``
    projection. Grouped, it is the scale replacement for ``GROUP BY
    count(DISTINCT key)``, whose shuffle carries every distinct
    (group, key) pair; this shuffles at most groups × 2^p register rows
    with full map-side combine, whatever the key cardinality."""
    bucket, rho = hll_bucket_rho(F.col(key), p)
    return (
        df.where(_notnull(key, *by))
        .select(*by, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*by, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, p: int = 9, by: By = ()
) -> DataFrame:
    """(*by, estimate, nonzero_registers) per group from a register
    table — shared by the direct path, merged sketches and sliding
    windows. Small-range (linear counting) correction per the original
    paper; estimate rounded to 4dp so the harmonic-sum accumulation
    order cannot flip the value hash."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.groupBy(*by).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
        F.count(F.lit(1)).alias("v"),
    )
    raw = F.lit(alpha * m * m) / (F.col("s") + (F.lit(m) - F.col("v")))
    # empty registers contribute 2^0 = 1 each to the harmonic sum
    zeros = F.lit(m) - F.col("v")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        *by,
        F.round(est, 4).alias("estimate"),
        F.col("v").cast("long").alias("nonzero_registers"),
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two HLL sketches: element-wise max over the register
    tables (full outer join on bucket). Max is associative and
    commutative, so merged registers are IDENTICAL to the registers of
    the combined input — the mergeability property that lets sketches
    roll up across partitions, days, and datasets without re-scanning
    (the ``hll_union_merge`` gate compares the merged and direct
    register tables bucket for bucket with ``msdiff_rows``; the
    estimates alone could not show it, since they depend only on the
    multiset of ``rho`` values)."""
    aa = a.select("bucket", F.col("rho").alias("ra"))
    bb = b.select("bucket", F.col("rho").alias("rb"))
    return aa.join(bb, "bucket", "full_outer").select(
        "bucket",
        F.greatest(
            F.coalesce("ra", F.lit(0)), F.coalesce("rb", F.lit(0))
        ).alias("rho"),
    )


def hll_estimate(
    df: DataFrame, key: str, p: int = 9, by: By = ()
) -> DataFrame:
    """(*by, estimate, nonzero_registers, exact_distinct): the
    HyperLogLog cardinality estimate per group next to the exact answer
    it approximates (the gate hash-checks BOTH, so the sketch
    arithmetic and its error are pinned)."""
    est = hll_estimate_from_registers(hll_registers(df, key, p, by), p, by)
    exact = (
        df.where(_notnull(key, *by))
        .groupBy(*by)
        .agg(F.countDistinct(key).alias("exact_distinct"))
    )
    return _join_by(est, exact, by)


def _hll_regs_sql(
    src: str, regs: str, table: str, key: str, where: str, p: int, by: By = ()
) -> str:
    """CTEs computing the register table of ``key`` rows matching
    ``where`` per group — the SQL twin of hll_registers."""
    w = 60 - p
    g = _pre(by)
    h1, _ = md5_halves_sql(f"CAST({key} AS VARCHAR)")
    bitlen = " + ".join(
        f"CASE WHEN tail >= {1 << k} THEN 1 ELSE 0 END" for k in range(w)
    )
    return f"""
    {src} AS (
      SELECT {g}{h1} AS h1
      FROM {table} WHERE {_notnull_sql(key, *by)}{where}
    ),
    {src}_br AS (
      SELECT {g}h1 >> {w} AS bucket, h1 & {(1 << w) - 1} AS tail FROM {src}
    ),
    {regs} AS (
      SELECT {g}bucket, MAX({w + 1} - ({bitlen})) AS rho
      FROM {src}_br GROUP BY {g}bucket
    )"""


def _hll_est_sql(regs: str, est: str, p: int, by: By = ()) -> str:
    """CTEs computing (*by, e, v) from a register CTE — the SQL twin of
    hll_estimate_from_registers."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    g = _pre(by)
    return f"""
    {est}_agg AS (
      SELECT {g}SUM(power(2.0, -rho)) AS s, COUNT(*) AS v
      FROM {regs}{_group_by_sql(by)}
    ),
    {est} AS (
      SELECT {g}CASE WHEN (CAST({alpha!r} AS DOUBLE) * {m} * {m})
                        / (s + ({m} - v)) <= CAST({2.5 * m!r} AS DOUBLE)
                   AND ({m} - v) > 0
                  THEN CAST({float(m)!r} AS DOUBLE)
                       * ln(CAST({float(m)!r} AS DOUBLE) / ({m} - v))
                  ELSE (CAST({alpha!r} AS DOUBLE) * {m} * {m})
                       / (s + ({m} - v))
             END AS e, v
      FROM {est}_agg
    )"""


def hll_oracle_sql(table: str, key: str, p: int = 9, by: By = ()) -> str:
    """DuckDB replay of hll_estimate — literally the same hash, rho,
    harmonic sum and corrections, per group."""
    ex_join = f" JOIN ex USING ({', '.join(by)})" if by else ", ex"
    return f"""
    WITH {_hll_regs_sql('h', 'regs', table, key, '', p, by)},
    {_hll_est_sql('regs', 'est', p, by)},
    ex AS (
      SELECT {_pre(by)}CAST(COUNT(DISTINCT {key}) AS BIGINT) AS exact_distinct
      FROM {table} WHERE {_notnull_sql(key, *by)}{_group_by_sql(by)}
    )
    SELECT {_pre(by)}ROUND(e, 4) AS estimate,
           CAST(v AS BIGINT) AS nonzero_registers, exact_distinct
    FROM est{ex_join}
    """


def hll_union_oracle_sql(
    table: str,
    key: str,
    split: str,
    p: int = 9,
    checksum_mod: int | None = None,
) -> str:
    """DuckDB replay of the merge gate: sketch two disjoint halves
    (``split`` / NOT ``split``), merge via full-join greatest, estimate
    the merged registers AND the directly-sketched full input, and
    compare the two register tables bucket for bucket — the exact
    mergeability identity the engine asserts. With
    ``checksum_mod`` it replays the persistence+fold gate: the
    ``split`` half's register table is the SAVED artifact."""
    ctes = f"""{_hll_regs_sql('ha', 'ra', table, key, f' AND ({split})', p)},
    {_hll_regs_sql('hb', 'rb', table, key, f' AND NOT ({split})', p)},
    merged AS (
      SELECT COALESCE(a.bucket, b.bucket) AS bucket,
             GREATEST(COALESCE(a.rho, 0), COALESCE(b.rho, 0)) AS rho
      FROM ra a FULL OUTER JOIN rb b ON a.bucket = b.bucket
    ),
    {_hll_est_sql('merged', 'em', p)},
    {_hll_regs_sql('hf', 'rf', table, key, '', p)},
    {_hll_est_sql('rf', 'ef', p)}"""
    cols = f"""ROUND(em.e, 4) AS union_estimate,
           ROUND(ef.e, 4) AS direct_estimate,
           {_same_sql('merged', 'rf', 'bucket, rho')} AS merge_consistent,
           (SELECT CAST(count(DISTINCT {key}) AS BIGINT)
            FROM {table} WHERE {key} IS NOT NULL) AS exact_union"""
    art = None
    if checksum_mod is not None:
        canon = "CAST(bucket AS VARCHAR) || ':' || CAST(rho AS VARCHAR)"
        art = ("ra", "saved_registers", canon, checksum_mod)
    return _union_sql(ctes, cols, "em, ef", art)


# --- Count-Min --------------------------------------------------------

def cms_counters(
    df: DataFrame, key: str, depth: int = 4, width: int = 4096, by: By = ()
) -> DataFrame:
    """(*by, row, slot, cnt): the depth × width Count-Min counter table
    of ``key`` occurrences per group — one hash-keyed aggregate (rows
    explode ``depth``× on the map side, combine partially, shuffle
    O(groups × depth × distinct-slots)). Grouped, it is the
    per-dimension frequency dashboard without a (group, key)-cardinality
    shuffle; per-group tables merge across days by the same
    element-wise sum."""
    return (
        cms_cell_rows(df, key, depth, width, by)
        .groupBy(*by, "row", "slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_cell_rows(
    df: DataFrame, key: str, depth: int = 4, width: int = 4096, by: By = ()
) -> DataFrame:
    """(*by, row, slot) cell rows, one per input row per depth — the
    map-only per-row half of the CMS pipeline, shared by the batch
    aggregate above and the STREAMING counter maintenance gate (the
    ``hll_bucket_rho`` device: one projection, two execution modes)."""
    return _km_cells(df.where(_notnull(key, *by)), by, key, depth, width, row=True)


def cms_point_estimates(
    df: DataFrame, key: str, depth: int = 4, width: int = 4096, by: By = ()
) -> DataFrame:
    """(*by, k, est, exact, overestimate_ok): Count-Min point estimate
    (min over the depth counter rows) for EVERY distinct (group, key),
    next to its exact count — the defining CMS guarantee est ≥ exact
    rides along as a checked column, per group independently (a group's
    cells only ever count that group's rows). Probe side joins its
    per-row slots against the counter table; both sides are
    slot-keyed aggregates."""
    counters = cms_counters(df, key, depth, width, by)
    return cms_point_estimates_from_counters(
        df, key, counters, depth, width, by=by
    )


def cms_point_estimates_from_counters(
    df: DataFrame,
    key: str,
    counters: DataFrame,
    depth: int = 4,
    width: int = 4096,
    exact_from: DataFrame | None = None,
    by: By = (),
) -> DataFrame:
    """``cms_point_estimates`` probing an EXPLICIT counter table — the
    entry point for estimating through merged sketches (``cms_merge``),
    where the counters were built from parts the prober never saw.

    ``exact`` (and hence the ``overestimate_ok`` witness est ≥ exact)
    must count the key in the BUILD data the counters summarize — CMS
    guarantees est ≥ build-count, not est ≥ any-frame-count. By default
    ``df`` is assumed to BE the build input (every current gate probes
    the build frame, so the one-pass groupBy is kept). When probing
    keys from a DIFFERENT frame, pass the build frame as
    ``exact_from``: probe keys are deduped and their exact counts come
    from it (0 for keys the build never saw — making the witness a
    theorem instead of a spurious violation)."""
    gk = [*by, "k"]
    if exact_from is not None:
        keys = (
            df.where(_notnull(key, *by))
            .select(*by, F.col(key).alias("k"))
            .distinct()
        )
        bcounts = (
            exact_from.where(_notnull(key, *by))
            .groupBy(*by, F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("__bc"))
        )
        grouped = keys.join(bcounts, gk, "left").select(
            *gk, F.coalesce("__bc", F.lit(0)).alias("exact")
        )
    else:
        grouped = (
            df.where(_notnull(key, *by))
            .groupBy(*by, F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("exact"))
        )
    probes = _km_cells(grouped, [*gk, "exact"], "k", depth, width, row=True)
    return (
        # LEFT join + coalesce-to-0: a probed key can hash to a cell the
        # counter table never materialized (possible when probing keys
        # the build input never saw — the merged-sketch entry point this
        # function advertises); the correct CMS estimate for an absent
        # cell is 0, and an inner join would instead inflate the min (or
        # drop the key entirely if all k cells are absent). Mirrors the
        # Bloom probe's handling of unset positions.
        probes.join(counters, [*by, "row", "slot"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        .groupBy(*gk, "exact")
        .agg(F.min("cnt").cast("long").alias("est"))
        .select(
            *gk,
            "est",
            F.col("exact").cast("long").alias("exact"),
            (F.col("est") >= F.col("exact")).alias("overestimate_ok"),
        )
    )


def cms_oracle_sql(
    table: str, key: str, depth: int = 4, width: int = 4096, by: By = ()
) -> str:
    """DuckDB replay of cms_point_estimates — the same hash, slots,
    per-group counters and min, collisions included."""
    g = _pre(by)
    h1, h2 = md5_halves_sql(f"CAST({key} AS VARCHAR)")
    on = "".join(f"s.{c} = c.{c} AND " for c in by)
    return f"""
    WITH kh AS (
      SELECT {g}{key} AS k, CAST(COUNT(*) AS BIGINT) AS exact,
             {h1} AS h1, {h2} AS h2
      FROM {table} WHERE {_notnull_sql(key, *by)} GROUP BY {g}{key}
    ),
    slots AS ({_km_sql('kh', f'{g}k, exact, ', depth, width, row=True)}),
    counters AS (
      SELECT {g}row, slot, SUM(exact) AS cnt FROM slots
      GROUP BY {g}row, slot
    )
    SELECT {_pre(by, 's.')}s.k,
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est, s.exact,
           MIN(COALESCE(c.cnt, 0)) >= s.exact AS overestimate_ok
    FROM slots s LEFT JOIN counters c
      ON {on}s.row = c.row AND s.slot = c.slot
    GROUP BY {_pre(by, 's.')}s.k, s.exact
    """


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two Count-Min counter tables: element-wise SUM (outer join
    on (row, slot)). Sum is associative/commutative, so merged counters
    equal the counters of the combined input exactly — the
    ``cms_union_merge`` gate asserts it cell for cell (``msdiff_rows``)."""
    aa = a.select("row", "slot", F.col("cnt").alias("ca"))
    bb = b.select("row", "slot", F.col("cnt").alias("cb"))
    return aa.join(bb, ["row", "slot"], "full_outer").select(
        "row",
        "slot",
        (F.coalesce("ca", F.lit(0)) + F.coalesce("cb", F.lit(0))).alias("cnt"),
    )


def cms_union_oracle_sql(
    table: str,
    key: str,
    split: str,
    depth: int = 4,
    width: int = 4096,
    checksum_mod: int | None = None,
) -> str:
    """DuckDB replay of the CMS merge gate: per-key counts of two
    disjoint row-halves (``split`` / NOT ``split``) → two counter
    tables → element-wise-sum merge → point estimates through the
    MERGED counters, whose cells are compared against the
    directly-built counters (equal cells give equal estimates). Because
    integer sum is associative, the comparison must come back exact —
    and the oracle hash-checks the actual sums/estimates, not just the
    boolean. With
    ``checksum_mod`` it replays the persistence+fold gate: the
    ``split`` half's counter table is the SAVED artifact."""
    h1, h2 = md5_halves_sql("CAST(k AS VARCHAR)")

    def counts(name: str, where: str) -> str:
        return f"""
    {name} AS (
      SELECT {key} AS k, CAST(COUNT(*) AS BIGINT) AS c
      FROM {table} WHERE {key} IS NOT NULL{where} GROUP BY {key}
    )"""

    def counters(name: str, src: str) -> str:
        return f"""
    {name} AS (
      SELECT s.row, s.slot, CAST(SUM({src}.c) AS BIGINT) AS cnt
      FROM slots s JOIN {src} ON s.k = {src}.k GROUP BY s.row, s.slot
    )"""

    def ests(name: str, cnt: str) -> str:
        return f"""
    {name} AS (
      SELECT s.k, MIN(x.cnt) AS est
      FROM slots s JOIN {cnt} x ON s.row = x.row AND s.slot = x.slot
      GROUP BY s.k
    )"""

    ctes = f"""{counts('kf', '')},{counts('ka', f' AND ({split})')},
    {counts('kb', f' AND NOT ({split})')},
    kh AS (SELECT k, {h1} AS h1, {h2} AS h2 FROM kf),
    slots AS ({_km_sql('kh', 'k, ', depth, width, row=True)}),
    {counters('ca', 'ka')},{counters('cb', 'kb')},{counters('cd', 'kf')},
    cm AS (
      SELECT COALESCE(a.row, b.row) AS row, COALESCE(a.slot, b.slot) AS slot,
             COALESCE(a.cnt, 0) + COALESCE(b.cnt, 0) AS cnt
      FROM ca a FULL OUTER JOIN cb b ON a.row = b.row AND a.slot = b.slot
    ),{ests('em', 'cm')},{ests('ed', 'cd')},
    ests AS (
      SELECT COUNT(*) AS keys,
             CAST(SUM(em.est) AS BIGINT) AS sum_est_merged,
             CAST(SUM(ed.est) AS BIGINT) AS sum_est_direct,
             SUM(CASE WHEN em.est >= kf.c THEN 0 ELSE 1 END) AS n_underest
      FROM em JOIN ed ON em.k = ed.k JOIN kf ON em.k = kf.k
    )"""
    cols = f"""CAST(e.keys AS BIGINT) AS keys,
           e.sum_est_merged, e.sum_est_direct,
           {_same_sql('cm', 'cd', 'row, slot, cnt')} AS merge_consistent,
           e.n_underest = 0 AS overestimate_ok,
           (SELECT CAST(SUM(c) AS BIGINT) FROM kf) AS exact_total"""
    art = None
    if checksum_mod is not None:
        canon = (
            "CAST(row AS VARCHAR) || ':' || CAST(slot AS VARCHAR)"
            " || ':' || CAST(cnt AS VARCHAR)"
        )
        art = ("ca", "saved_cells", canon, checksum_mod)
    return _union_sql(ctes, cols, "ests e", art)


# --- Bloom ------------------------------------------------------------

def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two Bloom filters: bit-union of the set-position tables
    (distinct union). Set-union is associative/commutative, so merged
    bits are IDENTICAL to the bits of the filter built over the
    combined input — the mergeability property that lets per-partition
    / per-day filters roll up without re-scanning (the
    ``bloom_union_merge`` gate asserts the equality exactly, with
    ``msdiff_rows``)."""
    return a.select("pos").union(b.select("pos")).distinct()


def bloom_bits(
    df: DataFrame, key: str, k: int = 5, m_bits: int = 1 << 14, by: By = ()
) -> DataFrame:
    """(*by, pos): the DISTINCT set bit positions of the filter built
    over ``key``, one filter per group — O(groups × min(m_bits,
    k·distinct)) rows. Grouped, it is the partition-level pruning index
    at 100 TB (one filter per partition/day, broadcast to skip whole
    partitions before a shuffle)."""
    return bloom_position_rows(df, key, k, m_bits, by).distinct()


def bloom_position_rows(
    df: DataFrame, key: str, k: int = 5, m_bits: int = 1 << 14, by: By = ()
) -> DataFrame:
    """(*by, pos) rows, one per input row per hash — the map-only
    per-row half of the Bloom pipeline, shared by the batch distinct
    above and the STREAMING bit-accumulation gate."""
    return _km_cells(df.where(_notnull(key, *by)), by, key, k, m_bits)


def bloom_probe_report(
    build: DataFrame,
    build_key: str,
    probe: DataFrame,
    probe_key: str,
    k: int = 5,
    m_bits: int = 1 << 14,
    by: By = (),
) -> DataFrame:
    """(*by, probed, maybe_present, true_present, false_positives):
    probe every distinct ``probe_key`` against the filter built over
    ``build_key`` — per group, against every group's filter (the
    partition-pruning question "which partitions can this key skip?"
    asked for the whole probe set at once). A key is "maybe present"
    iff ALL k bit positions are set; true membership comes from the
    exact (group, key) table, so the false positives — the sketch's
    entire error — are hash-checked by the oracle. Shape: bit table is
    O(m_bits); probe side is a positions join + all-k count, never a
    row-by-row filter."""
    bits = bloom_bits(build, build_key, k, m_bits, by)
    return bloom_probe_report_from_bits(
        bits, build, build_key, probe, probe_key, k, m_bits, by
    )


def bloom_probe_report_from_bits(
    bits: DataFrame,
    build: DataFrame,
    build_key: str,
    probe: DataFrame,
    probe_key: str,
    k: int = 5,
    m_bits: int = 1 << 14,
    by: By = (),
) -> DataFrame:
    """``bloom_probe_report`` probing an EXPLICIT bit table — the entry
    point for probing through merged filters (``bloom_merge``). ``build``
    is still needed for the exact-membership truth side."""
    truth = _distinct_keys(build, build_key, by)
    groups = bits.select(*by).distinct() if by else None
    pk = _distinct_keys(probe, probe_key)
    return _bloom_report(bits, pk, truth, by, groups, k, m_bits)


def _distinct_keys(df: DataFrame, key: str, by: By = ()) -> DataFrame:
    """(*by, k): the distinct non-null keys of ``df`` per group."""
    return (
        df.where(_notnull(key, *by))
        .select(*by, F.col(key).alias("k"))
        .distinct()
    )


def _bloom_report(
    bits: DataFrame,
    pk: DataFrame,
    truth: DataFrame,
    by: By,
    groups: DataFrame | None,
    k: int,
    m_bits: int,
) -> DataFrame:
    """The Bloom probe pipeline every probe report shares (batch,
    grouped, sliding): hash each distinct probe key ``pk`` once to its
    k positions (they are group-independent), count its set positions
    in each group's ``bits`` (*by, pos), call it maybe-present where
    all are set, left-join the exact ``truth`` (*by, k) and count per
    group. With ``groups`` (the group list), the group × key probe
    matrix is a broadcast cross join against it — ≤ dim-cardinality
    rows, the allowlisted dim × dim cross join, never a data×data
    cartesian; the scalar report has no group list and no cross join.
    Set-bit counting is a (group, pos)-keyed join; nothing fact-sized
    crosses."""
    gk = [*by, "k"]
    ppos = _km_cells(pk, ["k"], "k", k, m_bits).distinct()
    hits = (
        ppos.join(bits, "pos")
        .groupBy(*gk)
        .agg(F.countDistinct("pos").alias("nset"))
    )
    npos = ppos.groupBy("k").agg(F.countDistinct("pos").alias("ntotal"))
    grid = npos if groups is None else F.broadcast(groups).crossJoin(npos)
    maybe = grid.join(hits, gk, "left").select(
        *gk,
        (F.coalesce(F.col("nset"), F.lit(0)) == F.col("ntotal")).alias("maybe"),
    )
    present = truth.withColumn("present", F.lit(True))
    joined = maybe.join(present, gk, "left").select(
        *by, "maybe", F.coalesce("present", F.lit(False)).alias("present")
    )
    return joined.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("probed"),
        F.sum(F.col("maybe").cast("long")).cast("long").alias("maybe_present"),
        F.sum(F.col("present").cast("long")).cast("long").alias("true_present"),
        F.sum((F.col("maybe") & ~F.col("present")).cast("long"))
        .cast("long")
        .alias("false_positives"),
    )


def _bloom_probe_sql(
    bits: str,
    build_table: str,
    build_key: str,
    probe_table: str,
    probe_key: str,
    k: int,
    m_bits: int,
    by: By = (),
) -> str:
    """CTEs ph, ppos, m, t: every distinct probe key's k positions,
    counted set in each group's ``bits`` (*by, pos) CTE, with exact
    membership — the SQL twin of ``_bloom_report``."""
    grid = "ppos p"
    on = "b.pos = p.pos"
    if by:
        grid = f"(SELECT DISTINCT {', '.join(by)} FROM {bits}) grp CROSS JOIN ppos p"
        on = "".join(f"b.{c} = grp.{c} AND " for c in by) + on
    same = "".join(f" AND x.{c} = m.{c}" for c in by)
    return f"""{_halves_cte('ph', probe_table, probe_key, cols=f'{probe_key} AS k, ')},
    ppos AS (SELECT DISTINCT k, pos FROM ({_km_sql('ph', 'k, ', k, m_bits)})),
    m AS (
      SELECT {_pre(by, 'grp.')}p.k, COUNT(*) AS ntotal, COUNT(b.pos) AS nset
      FROM {grid} LEFT JOIN {bits} b ON {on}
      GROUP BY {_pre(by, 'grp.')}p.k
    ),
    t AS (
      SELECT {_pre(by, 'm.')}m.k, m.nset = m.ntotal AS maybe,
             EXISTS (SELECT 1 FROM {build_table} x
                     WHERE x.{build_key} = m.k{same}) AS present
      FROM m
    )"""


#: the probe report's columns over the ``t`` CTE of ``_bloom_probe_sql``
_BLOOM_REPORT_SQL = """CAST(COUNT(*) AS BIGINT) AS probed,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS maybe_present,
           CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS true_present,
           CAST(SUM(CASE WHEN maybe AND NOT present THEN 1 ELSE 0 END) AS BIGINT)
             AS false_positives"""


def bloom_oracle_sql(
    build_table: str,
    build_key: str,
    probe_table: str,
    probe_key: str,
    k: int = 5,
    m_bits: int = 1 << 14,
    by: By = (),
) -> str:
    """DuckDB replay of bloom_probe_report — the same bit positions per
    group, probe matrix and exact membership."""
    g = _pre(by)
    where = "".join(f" AND {c} IS NOT NULL" for c in by)
    return f"""
    WITH {_halves_cte('bh', build_table, build_key, where, g)},
    bits AS (SELECT DISTINCT {g}pos FROM ({_km_sql('bh', g, k, m_bits)})),
    {_bloom_probe_sql('bits', build_table, build_key, probe_table, probe_key, k, m_bits, by)}
    SELECT {g}{_BLOOM_REPORT_SQL}
    FROM t{_group_by_sql(by)}
    """


def bloom_union_oracle_sql(
    build_table: str,
    build_key: str,
    probe_table: str,
    probe_key: str,
    split: str,
    k: int = 5,
    m_bits: int = 1 << 14,
    checksum_mod: int | None = None,
) -> str:
    """DuckDB replay of the Bloom merge gate: build-key halves
    (``split`` / NOT ``split``) → two bit tables → bit-union merge →
    probe every ``probe_key`` through the MERGED filter, with the
    merged-vs-direct bit-set equality as an exact witness. Set-union
    associativity makes the bit sets identical, so the probe report
    through the merged filter must equal the direct one — and the
    oracle hash-checks the report itself, false positives included.
    With ``checksum_mod`` it replays the persistence+fold gate: the
    ``split`` half's bit table is the SAVED artifact (and the gate
    reports no direct bit count)."""

    def bits(name: str, src: str, where: str) -> str:
        return f"""{_halves_cte(src, build_table, build_key, where)},
    {name} AS (SELECT DISTINCT pos FROM ({_km_sql(src, '', k, m_bits)}))"""

    ctes = f"""{bits('bits_a', 'bha', f' AND ({split})')},
    {bits('bits_b', 'bhb', f' AND NOT ({split})')},
    {bits('bits_d', 'bhf', '')},
    bits_m AS (
      SELECT pos FROM bits_a UNION SELECT pos FROM bits_b
    ),
    bitcmp AS (
      SELECT (SELECT COUNT(*) FROM bits_m) AS nbits_merged,
             (SELECT COUNT(*) FROM bits_d) AS nbits_direct
    ),
    {_bloom_probe_sql('bits_m', build_table, build_key, probe_table, probe_key, k, m_bits)}"""
    direct = "" if checksum_mod is not None else (
        "(SELECT CAST(nbits_direct AS BIGINT) FROM bitcmp) AS nbits_direct,\n           "
    )
    cols = f"""{_BLOOM_REPORT_SQL},
           (SELECT CAST(nbits_merged AS BIGINT) FROM bitcmp) AS nbits_merged,
           {direct}{_same_sql('bits_m', 'bits_d', 'pos')} AS merge_consistent"""
    art = None
    if checksum_mod is not None:
        art = ("bits_a", "saved_bits", "CAST(pos AS VARCHAR)", checksum_mod)
    return _union_sql(ctes, cols, "t", art)


# --- Histogram quantile sketch ------------------------------------------

def histogram_bin_expr(v: Column, lo: Column, hi: Column, bins: int) -> Column:
    """The shared per-row binning projection — the ``hll_bucket_rho``
    device applied to histograms: batch construction, the streaming
    twin, and the oracle all bin through this exact arithmetic. ``lo``/
    ``hi`` may be column refs from an in-plan stats row or
    driver-collected literals; the IEEE quotient and floor are identical
    either way."""
    w = (hi - lo) / float(bins)
    return F.when(hi == lo, F.lit(0)).otherwise(
        F.least(F.floor((v - lo) / w).cast("long"), F.lit(bins - 1))
    )


def histogram_bin_expr_frozen(
    v: Column, lo: Column, hi: Column, bins: int
) -> Column:
    """Binning under FROZEN edges — the fixed-boundary semantics a
    PERSISTED histogram needs: the saved artifact carries [lo, hi] from
    the data it was built on, and new batches may fall outside that
    range, so out-of-range values CLAMP into the edge bins (below-range
    → bin 0, above-range → bin bins-1). ``histogram_bin_expr`` (the
    in-plan form) never sees out-of-range values because its stats row
    comes from the same frame; this variant is the fold-time twin."""
    w = (hi - lo) / float(bins)
    return F.when(hi == lo, F.lit(0)).otherwise(
        F.least(
            F.lit(bins - 1).cast("long"),
            F.greatest(
                F.lit(0).cast("long"), F.floor((v - lo) / w).cast("long")
            ),
        )
    )


def _tag(q: float) -> str:
    return str(q).replace("0.", "p")


def _half_up2(c: Column) -> Column:
    """Portable half-up 2dp rounding (Spark ROUND is HALF_UP; DuckDB's
    can bank) — ``_half_up2_sql`` on the oracle side."""
    return F.floor(c * 100 + F.lit(0.5)) / 100.0


def _quantile_picks(
    cnts: DataFrame, stats: DataFrame, bins: int, qs: Sequence[float], by: By = ()
) -> DataFrame:
    """The rank-pick every histogram estimator shares. ``cnts`` is the
    (*by, bin, cnt) counter table (no empty cells), ``stats`` the
    (*by, lo, hi, n) row per group. For each q the covering bin is the
    one whose running count first reaches r = n·q — cum ≥ r > cum − cnt,
    which exactly one bin meets — and the estimate interpolates inside
    it: lo + w·(bin + (r − cum_prev)/cnt). Returns ``stats`` with
    ({tag}_raw, {tag}_bin) per q. The running count is computed once
    and every q picks from it in one conditional aggregate; grouping by
    all of ``stats`` keeps the no-values report at 0 rows. Everything
    here is groups × bins rows."""
    cum = _join_by(
        cnts.withColumn(
            "cum", F.sum("cnt").over(Window.partitionBy(*by).orderBy("bin"))
        ),
        F.broadcast(stats),
        by,
    )
    w = (F.col("hi") - F.col("lo")) / float(bins)
    prev = F.col("cum") - F.col("cnt")
    picks = []
    for q in qs:
        tag, r = _tag(q), F.col("n") * float(q)
        hit = (F.col("cum") >= r) & (prev < r)
        est = F.col("lo") + w * (F.col("bin") + (r - prev) / F.col("cnt"))
        picks += [
            F.max(F.when(hit, est)).alias(f"{tag}_raw"),
            F.max(F.when(hit, F.col("bin"))).alias(f"{tag}_bin"),
        ]
    return cum.groupBy(*stats.columns).agg(*picks)


def _estimates(qs: Sequence[float]) -> list[Column]:
    return [_half_up2(F.col(f"{_tag(q)}_raw")).alias(f"{_tag(q)}_est") for q in qs]


def histogram_quantiles(
    df: DataFrame,
    col: str,
    bins: int = 64,
    qs: Sequence[float] = (0.5, 0.9),
    by: By = (),
) -> DataFrame:
    """(*by, n_rows, {tag}_est per q): histogram quantile estimates per
    group — per-group [lo, hi] edges, per-group ``bins``-cell counts
    (one keyed aggregate, map-side combinable), then the shared
    rank-pick (``_quantile_picks``), half-up 2dp. At 100 TB this is
    per-dimension percentiles from one bounded-state pass: state is
    O(groups × bins) and the only fact-sized stage is the binning
    scan."""
    src = df.where(_notnull(col, *by)).select(
        *by, F.col(col).cast("double").alias("v")
    )
    # stats (groups-sized) and the bin counts (groups × bins) are both
    # consumed by every per-quantile pick — materialized, the fact scan
    # runs once for the edges and once for the binning instead of once
    # per downstream consumer (measured 7 scans in the r13 sweep)
    stats = src.groupBy(*by).agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)
    binned = _join_by(src, F.broadcast(stats), by).select(
        *by,
        histogram_bin_expr(F.col("v"), F.col("lo"), F.col("hi"), bins).alias(
            "bin"
        ),
    )
    cnts = binned.groupBy(*by, "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=True)
    return _quantile_picks(cnts, stats, bins, qs, by).select(
        *by, F.col("n").cast("long").alias("n_rows"), *_estimates(qs)
    )


def histogram_quantile_report(
    df: DataFrame,
    col: str,
    split,
    bins: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """One-row histogram-quantile sketch report: ``bins`` equi-width
    bins over [min, max] of ``col``, quantile estimates interpolated
    within the covering bin (the ``histogram_quantiles`` estimates),
    the MERGEABILITY witness (bins built from the disjoint ``split``
    halves and summed must equal the direct histogram cell-for-cell —
    integer sum, exact), and the sketch's structural guarantee checked
    per quantile: the estimate lies INSIDE the bin covering rank n·q
    (``{tag}_in_bin`` — a theorem: the interpolation fraction is in
    (0, 1] by the pick condition).

    ``|estimate − exact| ≤ bin width`` is deliberately NOT the witness:
    the estimate ranks at n·q while ``percentile``/``quantile_cont``
    interpolate at (n−1)·q, and on gappy data the two ranks can land in
    different, empty-separated bins (n=2, q=0.9, values {0, 100} gives
    est≈99.7 vs exact=90) — the bound holds on dense data but is not a
    theorem of the sketch. The est/exact pairs ride in the row so the
    empirical gap stays observable.

    Unlike t-digest (Spark's ``approx_percentile``, gated as a
    threshold self-check in ``event_value_percentiles``), every number
    here is deterministic floor/linear arithmetic over exact counts —
    the DuckDB oracle replays estimates value-for-value. State is
    O(bins) with map-side partial combine; merge = element-wise sum —
    the CMS economics applied to quantiles."""
    src = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("v"), split.alias("__half")
    )
    # stats feeds the binning AND the report's rank arithmetic; binned
    # feeds the direct histogram AND both half histograms — both
    # materialized so the fact scan runs once for the edges and once
    # for the binning (the minimum: edges must exist before bins)
    stats = src.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)
    binned = src.crossJoin(F.broadcast(stats)).select(
        histogram_bin_expr(
            F.col("v"), F.col("lo"), F.col("hi"), bins
        ).alias("bin"),
        "__half",
    ).localCheckpoint(eager=True)
    direct, merged = histogram_counters(binned)
    return histogram_report_from_counters(
        direct, merged, stats, df, col, bins, qs
    )


def histogram_counters(
    binned: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(direct, merged) counter tables from a ``(bin, __half)`` frame:
    the direct histogram and the element-wise sum of the two disjoint
    half histograms — the pair whose cell-for-cell equality is the
    mergeability witness (integer sum is associative, so they must be
    exactly equal). Shared by the batch report and the streaming twin
    (whose ``direct`` comes from the drained stream instead)."""
    direct = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    ba = (
        binned.where(F.col("__half"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    bb = (
        binned.where(~F.col("__half"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    merged = ba.join(bb, "bin", "full_outer").select(
        "bin",
        (F.coalesce("ca", F.lit(0)) + F.coalesce("cb", F.lit(0))).alias("cnt"),
    )
    return direct, merged


def histogram_report_from_counters(
    direct: DataFrame,
    merged: DataFrame,
    stats: DataFrame,
    exact_src: DataFrame,
    col: str,
    bins: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Build the quantile report from an EXPLICIT ``(bin, cnt)`` counter
    table — the entry point for counters maintained elsewhere (the
    streaming twin drains its incrementally-summed bins into this), with
    ``merged`` a second counter table (``(bin, cnt)``) whose
    cell-for-cell equality with ``direct`` (``msdiff_rows``) is the
    mergeability witness.
    ``stats`` is the one-row (lo, hi, n) frame the bins were built
    against; ``exact_src[col]`` supplies the exact-percentile twins."""
    cells = same_rows(merged, direct, "merge_consistent")
    exact = exact_src.where(F.col(col).isNotNull()).agg(
        *[F.percentile(col, F.lit(q)).alias(f"{_tag(q)}_exact_raw") for q in qs]
    )
    out = (
        _quantile_picks(direct, stats, bins, qs)
        .crossJoin(exact)
        .crossJoin(cells)
    )
    w = (F.col("hi") - F.col("lo")) / float(bins)
    cols = [
        F.col("n").cast("long").alias("n"),
        _half_up2(F.col("lo")).alias("lo"),
        _half_up2(F.col("hi")).alias("hi"),
    ]
    for q, est in zip(qs, _estimates(qs)):
        tag = _tag(q)
        raw, bin_lo = F.col(f"{tag}_raw"), F.col("lo") + w * F.col(f"{tag}_bin")
        cols += [
            est,
            _half_up2(F.col(f"{tag}_exact_raw")).alias(f"{tag}_exact"),
            ((raw >= bin_lo - F.lit(1e-9)) & (raw <= bin_lo + w + F.lit(1e-9))).alias(
                f"{tag}_in_bin"
            ),
        ]
    cols.append(F.col("merge_consistent"))
    return out.select(*cols)


# --- histogram SQL twins

def _half_up2_sql(x: str) -> str:
    return f"FLOOR({x} * 100 + 0.5) / 100.0"


def _bin_sql(bins: int, frozen: bool = False) -> str:
    """SQL twin of ``histogram_bin_expr`` (``frozen``:
    ``histogram_bin_expr_frozen``) over columns v, lo, hi."""
    b = f"CAST(FLOOR((v - lo) / ((hi - lo) / {float(bins)!r})) AS BIGINT)"
    if frozen:
        b = f"GREATEST(0, {b})"
    return f"CASE WHEN hi = lo THEN 0 ELSE LEAST({b}, {bins - 1}) END"


def _quantile_picks_sql(
    cnts: str, stats: str, bins: int, qs: Sequence[float], by: By = ()
) -> str:
    """CTEs ``cum`` and ``pick_{tag}`` per q over a (*by, bin, cnt)
    counter CTE and a (*by, lo, hi, n) stats CTE — the SQL twin of
    ``_quantile_picks``; each pick has (*by, {tag}_raw, {tag}_bin)."""
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    src = f"{cnts} JOIN {stats} USING ({', '.join(by)})" if by else f"{cnts}, {stats}"
    picks = [
        f"""
    cum AS (
      SELECT *, SUM(cnt) OVER ({part}ORDER BY bin) AS cum FROM {src}
    )"""
    ]
    for q in qs:
        tag = _tag(q)
        picks.append(f"""
    pick_{tag} AS (
      SELECT {_pre(by)}lo + ((hi - lo) / {float(bins)!r})
               * (bin + (n * {q!r} - (cum - cnt)) / cnt) AS {tag}_raw,
             bin AS {tag}_bin
      FROM cum WHERE cum >= n * {q!r} AND cum - cnt < n * {q!r}
    )""")
    return ",".join(picks)


def _estimates_sql(qs: Sequence[float], by: By = ()) -> tuple[list[str], str]:
    """(the half-up {tag}_est columns, the pick CTE joins) for a final
    SELECT over the stats CTE."""
    cols = [f"{_half_up2_sql(f'{_tag(q)}_raw')} AS {_tag(q)}_est" for q in qs]
    joins = "".join(
        f" JOIN pick_{_tag(q)} USING ({', '.join(by)})" if by else f", pick_{_tag(q)}"
        for q in qs
    )
    return cols, joins


def histogram_quantiles_oracle_sql(
    table: str,
    col: str,
    bins: int = 64,
    qs: Sequence[float] = (0.5, 0.9),
    by: By = (),
) -> str:
    """DuckDB replay of ``histogram_quantiles`` — identical per-group
    edges, binning, cumulative sum, and first-covering-bin
    interpolation, half-up 2dp on both sides."""
    g = _pre(by)
    ests, joins = _estimates_sql(qs, by)
    with_stats = f"JOIN stats USING ({', '.join(by)})" if by else ", stats"
    return f"""
    WITH src AS (
      SELECT {g}CAST({col} AS DOUBLE) AS v
      FROM {table} WHERE {_notnull_sql(col, *by)}
    ),
    stats AS (
      SELECT {g}MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
      FROM src{_group_by_sql(by)}
    ),
    cnts AS (
      SELECT {g}{_bin_sql(bins)} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM src {with_stats} GROUP BY {g}bin
    ),{_quantile_picks_sql('cnts', 'stats', bins, qs, by)}
    SELECT {g}CAST(n AS BIGINT) AS n_rows, {", ".join(ests)}
    FROM stats{joins}
    """


def histogram_quantile_oracle_sql(
    table: str,
    col: str,
    split: str,
    bins: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB replay of ``histogram_quantile_report`` — identical bin
    arithmetic (floor over the same IEEE quotient), identical
    interpolation, identical half-up rounding, plus exact quantiles via
    ``quantile_cont`` (the same interpolated definition as Spark's
    ``percentile``)."""
    ests, joins = _estimates_sql(qs)
    sel = []
    for q, est in zip(qs, ests):
        tag = _tag(q)
        binw = f"((s.hi - s.lo) / {float(bins)!r})"
        sel.append(
            f"{est},\n"
            f"           {_half_up2_sql(f'{tag}_exact_raw')} AS {tag}_exact,\n"
            f"           ({tag}_raw >= s.lo + {binw} * {tag}_bin - 1e-9\n"
            f"            AND {tag}_raw <= s.lo + {binw} * ({tag}_bin + 1) + 1e-9)\n"
            f"             AS {tag}_in_bin"
        )
    sel_block = ",\n           ".join(sel)
    exact_block = ", ".join(
        f"quantile_cont(v, {q!r}) AS {_tag(q)}_exact_raw" for q in qs
    )
    return f"""
    WITH src AS (
      SELECT CAST({col} AS DOUBLE) AS v, {split} AS half
      FROM {table} WHERE {col} IS NOT NULL
    ),
    stats AS (SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM src),
    binned AS (SELECT {_bin_sql(bins)} AS bin, half FROM src, stats),
    direct AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM binned GROUP BY bin),
    ba AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS ca FROM binned WHERE half GROUP BY bin),
    bb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cb FROM binned WHERE NOT half GROUP BY bin),
    merged AS (
      SELECT COALESCE(a.bin, b.bin) AS bin,
             COALESCE(a.ca, 0) + COALESCE(b.cb, 0) AS cnt
      FROM ba a FULL OUTER JOIN bb b ON a.bin = b.bin
    ),
    cells AS (
      SELECT {_same_sql('merged', 'direct', 'bin, cnt')} AS merge_consistent
    ),
    exact AS (SELECT {exact_block} FROM src),{_quantile_picks_sql('direct', 'stats', bins, qs)}
    SELECT CAST(s.n AS BIGINT) AS n,
           {_half_up2_sql('s.lo')} AS lo,
           {_half_up2_sql('s.hi')} AS hi,
           {sel_block},
           cells.merge_consistent
    FROM stats s, exact, cells{joins}
    """


def histogram_artifact_oracle_sql(
    table: str, col: str, split: str, bins: int, checksum_mod: int
) -> str:
    """DuckDB replay of the frozen-edge histogram persistence+fold
    gate: base-half edges + bin counts (the SAVED artifact, with its
    canonical checksum), the new batch binned under the FROZEN edges
    with edge-bin clamping, the cell-wise fold, and the direct
    histogram of the full input under the same frozen edges — integer
    sums, so fold ≡ direct exactly."""

    def binned(name: str, src: str) -> str:
        return f"""
    {name} AS (
      SELECT {_bin_sql(bins, frozen=True)} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM {src}, edges GROUP BY 1
    )"""

    def values(name: str, where: str) -> str:
        return f"""
    {name} AS (
      SELECT CAST({col} AS DOUBLE) AS v FROM {table}
      WHERE {col} IS NOT NULL{where}
    )"""

    ctes = f"""{values('srcb', f' AND ({split})')},
    {values('srcn', f' AND NOT ({split})')},{values('srcf', '')},
    edges AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM srcb),{binned('bb', 'srcb')},
    {binned('bn', 'srcn')},{binned('direct', 'srcf')},
    folded AS (
      SELECT COALESCE(a.bin, b.bin) AS bin,
             COALESCE(a.cnt, 0) + COALESCE(b.cnt, 0) AS cnt
      FROM bb a FULL OUTER JOIN bn b ON a.bin = b.bin
    )"""
    cols = f"""{_half_up2_sql('lo')} AS lo_edge,
           {_half_up2_sql('hi')} AS hi_edge,
           (SELECT CAST(SUM(cnt) AS BIGINT) FROM folded) AS n_total,
           {_same_sql('folded', 'direct', 'bin, cnt')} AS fold_consistent"""
    canon = "CAST(bin AS VARCHAR) || ':' || CAST(cnt AS VARCHAR)"
    return _union_sql(ctes, cols, "edges", ("bb", "saved_bins", canon, checksum_mod))


def histogram_range_shard_report(
    df: DataFrame,
    col: str,
    bins: int = 64,
    shards: int = 8,
) -> DataFrame:
    """Balanced RANGE-shard assignment driven by the histogram sketch —
    the write-layout application of the quantile work: a sorted/ranged
    parquet layout wants ``shards`` output ranges with near-equal row
    counts, and the O(bins) histogram supplies the boundaries without a
    sample-sort or a full sort of the data (what
    ``repartitionByRange`` samples for, computed here from exact
    counts so the oracle replays it).

    Rule: a bin belongs to shard ``(cum_before_bin · shards) div n`` —
    the shard whose quota its first row falls into (integer division,
    engine-exact). Shards are CONSECUTIVE bin runs, so their value
    ranges are disjoint by construction; each shard's row count is
    bounded by ``n div shards + max_bin_count`` (it stops admitting new
    bins once past its quota — the structural balance bound, checked as
    ``balanced_ok``). Output: one row per non-empty shard (shard,
    n_rows, lo_val, hi_val, balanced_ok, range_disjoint)."""
    src = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("v")
    )
    # materialized: stats feeds the binning, the shard rule AND the
    # balance bound; bincnt feeds the shard map's two consumers — lazy,
    # each consumer re-ran the fact scan (7 in the r13 sweep)
    stats = src.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)
    binned = src.crossJoin(F.broadcast(stats)).select(
        "v",
        histogram_bin_expr(F.col("v"), F.col("lo"), F.col("hi"), bins).alias(
            "bin"
        ),
    )
    # ONE corpus pass: per-bin count AND value extrema — everything the
    # per-shard report needs is then derivable from these ≤`bins` rows
    # (a shard's count/min/max = sum/min/max over its consecutive bin
    # run), so no second scan or row-level shard join ever runs.
    bincnt = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    ).localCheckpoint(eager=True)
    cum = bincnt.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin"))
    )
    shard_map = cum.crossJoin(F.broadcast(stats)).select(
        "bin",
        "cnt",
        "vmin",
        "vmax",
        F.least(
            F.lit(shards - 1),
            F.expr(f"(cum - cnt) * {shards} div n"),
        )
        .cast("long")
        .alias("shard"),
    )
    per_shard = shard_map.groupBy("shard").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        _half_up2(F.min("vmin")).alias("lo_val"),
        _half_up2(F.max("vmax")).alias("hi_val"),
    )
    bound = (
        shard_map.crossJoin(F.broadcast(stats))
        .agg(
            (F.expr(f"max(n div {shards})") + F.max("cnt")).alias("__cap")
        )
    )
    w = Window.orderBy("shard")
    checked = (
        per_shard.crossJoin(F.broadcast(bound))
        .select(
            "shard",
            "n_rows",
            "lo_val",
            "hi_val",
            (F.col("n_rows") <= F.col("__cap")).alias("balanced_ok"),
            (
                F.coalesce(
                    F.lag("hi_val").over(w) <= F.col("lo_val"), F.lit(True)
                )
            ).alias("range_disjoint"),
        )
    )
    return checked


def histogram_range_shard_oracle_sql(
    table: str, col: str, bins: int = 64, shards: int = 8
) -> str:
    """DuckDB replay of ``histogram_range_shard_report`` — identical
    bin arithmetic, integer-division shard rule, half-up rounding."""
    return f"""
    WITH src AS (
      SELECT CAST({col} AS DOUBLE) AS v
      FROM {table} WHERE {col} IS NOT NULL
    ),
    stats AS (SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM src),
    binned AS (SELECT v, {_bin_sql(bins)} AS bin FROM src, stats),
    bincnt AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM binned GROUP BY bin),
    cum AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM bincnt),
    smap AS (
      SELECT bin, cnt,
             CAST(LEAST({shards - 1}, (cum - cnt) * {shards} // n)
                  AS BIGINT) AS shard
      FROM cum, stats
    ),
    per_shard AS (
      SELECT s.shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
             {_half_up2_sql('MIN(b.v)')} AS lo_val,
             {_half_up2_sql('MAX(b.v)')} AS hi_val
      FROM binned b JOIN smap s ON b.bin = s.bin
      GROUP BY s.shard
    ),
    bound AS (
      SELECT MAX(n // {shards}) + MAX(cnt) AS cap FROM smap, stats
    )
    SELECT shard, n_rows, lo_val, hi_val,
           n_rows <= (SELECT cap FROM bound) AS balanced_ok,
           COALESCE(lag(hi_val) OVER (ORDER BY shard) <= lo_val, TRUE)
             AS range_disjoint
    FROM per_shard
    """


# --- Sliding windows over leaf tables ------------------------------------
# Each family's leaf store is its grouped sketch with the ``grain``
# bucket of the timestamp as the group (``leaf``); a window's sketch
# merges its leaves over the shared spine (operators/sliding.py).


def _with_leaf(df: DataFrame, ts_col: str, grain: str) -> DataFrame:
    return df.withColumn("leaf", F.date_trunc(grain, F.col(ts_col)))


def hll_leaf_registers(
    df: DataFrame, ts_col: str, key: str, grain: str = "day", p: int = 9
) -> DataFrame:
    """(leaf: timestamp, bucket, rho): one HLL register table per
    ``grain`` bucket of ``ts_col`` — the persisted leaf store of a
    sliding-window distinct-count service (the KMV twin is
    operators/kmv.py kmv_leaf_sketches). O(leaves × 2^p) rows whatever
    the event volume."""
    return hll_registers(_with_leaf(df, ts_col, grain), key, p, by=("leaf",))


def hll_sliding_estimates(
    leaves: DataFrame, width: int, grain: str = "day", p: int = 9
) -> DataFrame:
    """Per-window-end (wend, estimate, nonzero_registers) for every
    sliding window of ``width`` leaves — register-max merge over the
    leaf table. HLL merge is exact (per-bucket max is associative and
    order-free), so each window's merged registers are IDENTICAL to
    the registers built directly from the window's raw events, which
    the oracle proves by building them the direct way. The range join
    runs on the O(leaves × 2^p) register table, never per-event — the
    shared spine (operators/sliding.py)."""
    merged = (
        sliding.window_leaves(leaves, width, grain)
        .groupBy("wend", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    return hll_estimate_from_registers(merged, p, by=("wend",))


def _ends_sql(table: str, ts_col: str, key: str, grain: str) -> str:
    # key-not-null matches the engine: its window ends come from the LEAF
    # table (the leaf builders drop null keys), so a grain bucket whose
    # keys are ALL null has no leaf and no window end on either side
    return f"""
    ends AS (
      SELECT DISTINCT date_trunc('{grain}', {ts_col}) AS wend FROM {table}
      WHERE {ts_col} IS NOT NULL AND {key} IS NOT NULL
    )"""


def _in_window_sql(leaf: str, width: int, grain: str) -> str:
    return (
        f"{leaf} BETWEEN ends.wend - INTERVAL {width - 1} {grain}"
        f" AND ends.wend"
    )


def hll_sliding_oracle_sql(
    table: str,
    ts_col: str,
    key: str,
    width: int,
    grain: str = "day",
    p: int = 9,
) -> str:
    """DuckDB replay of leaf registers + window register-max merge +
    estimate arithmetic + the exact sliding distinct witness."""
    return f"""
    WITH {_ends_sql(table, ts_col, key, grain)},
    lsrc AS (
      SELECT date_trunc('{grain}', {ts_col}) AS leaf, {key} FROM {table}
    ),
    {_hll_regs_sql('h', 'lregs', 'lsrc', key, '', p, by=('leaf',))},
    wregs AS (
      SELECT ends.wend, lr.bucket, MAX(lr.rho) AS rho
      FROM ends JOIN lregs lr ON {_in_window_sql('lr.leaf', width, grain)}
      GROUP BY ends.wend, lr.bucket
    ),
    {_hll_est_sql('wregs', 'est', p, by=('wend',))},
    lk AS (
      SELECT DISTINCT date_trunc('{grain}', {ts_col}) AS leaf, {key} AS kk
      FROM {table} WHERE {key} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    ex AS (
      SELECT ends.wend, count(DISTINCT lk.kk) AS exact_distinct
      FROM ends JOIN lk ON {_in_window_sql('lk.leaf', width, grain)}
      GROUP BY ends.wend
    )
    SELECT CAST(est.wend AS TIMESTAMP) AS wend, ROUND(est.e, 4) AS estimate,
           CAST(est.v AS BIGINT) AS nonzero_registers,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM est JOIN ex ON ex.wend = est.wend
    """


def histogram_leaf_bins(
    df: DataFrame,
    ts_col: str,
    col: str,
    lo: float,
    hi: float,
    bins: int = 64,
    grain: str = "day",
) -> DataFrame:
    """(leaf: timestamp, bin, cnt): one ``bins``-cell histogram per
    ``grain`` bucket of ``ts_col``, binned under FIXED [lo, hi] edges
    (driver-collected, the streaming-twin configuration — shared edges
    are what make leaf cells sum-mergeable across any window). O(leaves
    × bins) rows whatever the event volume."""
    return (
        df.where(F.col(col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(
            F.date_trunc(grain, F.col(ts_col)).alias("leaf"),
            histogram_bin_expr(
                F.col(col).cast("double"), F.lit(lo), F.lit(hi), bins
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_sliding_quantiles(
    leaves: DataFrame,
    lo: float,
    hi: float,
    width: int,
    bins: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    grain: str = "day",
) -> DataFrame:
    """Per-window-end (wend, n_total, {q}_est …) quantile estimates for
    every sliding window of ``width`` leaves — integer SUM-merge of the
    leaf histograms (associative, so the merged window cells are
    IDENTICAL to binning the window's raw events directly; the oracle
    builds windows the direct way, which makes the driver comparison
    itself the mergeability proof), then the batch estimator's
    rank-pick (``_quantile_picks``) per window, half-up 2dp. All window
    work is dim-sized (windows × bins rows)."""
    # materialized: the windows × bins merged table feeds the cumsum,
    # the totals, AND one pick subtree per quantile — lazy, each of
    # those re-runs the range join and the leaf build underneath it
    # (the r13 scan sweep measured this gate at 14 raw-event scans)
    merged = (
        sliding.window_leaves(leaves, width, grain)
        .groupBy("wend", "bin")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    totals = merged.groupBy("wend").agg(F.sum("cnt").alias("n")).select(
        "wend", "n", F.lit(lo).alias("lo"), F.lit(hi).alias("hi")
    )
    return _quantile_picks(merged, totals, bins, qs, ("wend",)).select(
        "wend", F.col("n").cast("long").alias("n_total"), *_estimates(qs)
    )


def histogram_sliding_oracle_sql(
    table: str,
    ts_col: str,
    col: str,
    width: int,
    bins: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    grain: str = "day",
) -> str:
    """DuckDB replay of the sliding histogram quantiles — windows built
    the DIRECT way (bin the window's raw rows), same fixed global
    edges, same interpolation, same half-up rounding; equality with the
    engine's leaf-sum path is the mergeability proof."""
    ests, joins = _estimates_sql(qs, ("wend",))
    return f"""
    WITH src AS (
      SELECT date_trunc('{grain}', {ts_col}) AS leaf,
             CAST({col} AS DOUBLE) AS v
      FROM {table} WHERE {col} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    edges AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM src),
    ends AS (SELECT DISTINCT leaf AS wend FROM src),
    wb AS (
      SELECT ends.wend, {_bin_sql(bins)} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ends JOIN src ON {_in_window_sql('src.leaf', width, grain)}, edges
      GROUP BY ends.wend, 2
    ),
    tot AS (SELECT wend, lo, hi, SUM(cnt) AS n FROM wb, edges GROUP BY wend, lo, hi),
    {_quantile_picks_sql('wb', 'tot', bins, qs, ('wend',))}
    SELECT CAST(wend AS TIMESTAMP) AS wend,
           CAST(n AS BIGINT) AS n_total, {", ".join(ests)}
    FROM tot{joins}
    """


# ---------------------------------------------------------------------------
# Sliding Bloom membership — the fifth leaf-store family on the shared
# spine (operators/sliding.py), proving the spine's "a new family is a
# ~20-line leaf builder" claim (r12 verdict item 5): per-grain Bloom
# bit leaves; a window's filter is the distinct-union (bit OR) of its
# leaves' bits — set-union associativity, the same mergeability the
# bloom_union_merge gate pins — so probing the merged window filter
# equals probing a filter built directly over the window's raw rows.
# ---------------------------------------------------------------------------


def bloom_leaf_bits(
    df: DataFrame,
    ts_col: str,
    key: str,
    k: int = 5,
    m_bits: int = 1 << 14,
    grain: str = "day",
) -> DataFrame:
    """(leaf, pos): one Bloom filter's distinct set-bit positions per
    ``grain`` bucket — the persisted leaf store. O(leaves × min(m_bits,
    k·distinct)) rows whatever the event volume."""
    return bloom_bits(_with_leaf(df, ts_col, grain), key, k, m_bits, by=("leaf",))


def bloom_sliding_probe_report(
    leaves_bits: DataFrame,
    events: DataFrame,
    probe: DataFrame,
    ts_col: str,
    key: str,
    probe_key: str,
    width: int,
    grain: str = "day",
    k: int = 5,
    m_bits: int = 1 << 14,
    ends: DataFrame | None = None,
) -> DataFrame:
    """(wend, probed, maybe_present, true_present, false_positives):
    probe every distinct ``probe_key`` against every sliding window's
    merged Bloom filter — the grouped probe report (``_bloom_report``)
    with the window end as the group. The window filter is the
    bit-union of the window's leaf filters (``sliding.window_leaves``
    over the BIT table — never per-event data); truth comes from the
    exact (leaf, key)-deduped range join, so each window's false
    positives — the sketch's entire error — hash-check against the
    oracle."""
    if ends is None:
        # ends + the window bit-union both consume the leaf bit table;
        # materialize so the leaf build (the raw-event aggregate) runs
        # once (the window_leaves ends=None device, done here because
        # ends must also feed the probe grid below)
        if not sliding._is_materialized(leaves_bits):
            leaves_bits = leaves_bits.localCheckpoint(eager=True)
        ends = sliding.window_ends(leaves_bits, "leaf")
    wbits = (
        sliding.window_leaves(
            leaves_bits, width, grain, ends=ends, broadcast_leaves=False
        )
        .select("wend", "pos")
        .distinct()
    )
    pk = _distinct_keys(probe, probe_key)
    lk = _distinct_keys(_with_leaf(events, ts_col, grain), key, ("leaf",))
    truth = (
        sliding.window_leaves(
            lk, width, grain, ends=ends, broadcast_leaves=False
        )
        .select("wend", "k")
        .distinct()
        .join(pk, "k", "left_semi")
    )
    return _bloom_report(
        wbits, pk, truth, ("wend",), ends.select("wend"), k, m_bits
    )


def bloom_sliding_oracle_sql(
    table: str,
    ts_col: str,
    key: str,
    probe_table: str,
    probe_key: str,
    width: int,
    grain: str = "day",
    k: int = 5,
    m_bits: int = 1 << 14,
) -> str:
    """DuckDB replay of leaf bits + window bit-union + probe + exact
    witness for any (grain, width) calendar. Column names match the
    engine side: (wend, probed, maybe_present, true_present,
    false_positives)."""
    leaf = f"date_trunc('{grain}', {ts_col}) AS leaf, "
    return f"""
    WITH {_ends_sql(table, ts_col, key, grain)},
    {_halves_cte('bh', table, key, f' AND {ts_col} IS NOT NULL', leaf)},
    lb AS (SELECT DISTINCT leaf, pos FROM ({_km_sql('bh', 'leaf, ', k, m_bits)})),
    wb AS (
      SELECT DISTINCT ends.wend, lb.pos
      FROM ends JOIN lb ON {_in_window_sql('lb.leaf', width, grain)}
    ),
    lk AS (
      SELECT DISTINCT {leaf}{key} AS k
      FROM {table} WHERE {key} IS NOT NULL AND {ts_col} IS NOT NULL
    ),
    wk AS (
      SELECT DISTINCT ends.wend, lk.k
      FROM ends JOIN lk ON {_in_window_sql('lk.leaf', width, grain)}
    ),
    {_bloom_probe_sql('wb', 'wk', 'k', probe_table, probe_key, k, m_bits, ('wend',))}
    SELECT CAST(t.wend AS TIMESTAMP) AS wend, {_BLOOM_REPORT_SQL}
    FROM t GROUP BY t.wend
    """
