"""Probabilistic sketches: accuracy envelopes, defining guarantees,
and portability of the hash family."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from youtube_scraper_db_spark.functions.portable_hash import km_mix
from youtube_scraper_db_spark.operators import sketches as S


def _keys_df(spark, n, dup_every=0):
    rows = [(i % (n // 2) if dup_every and i % dup_every == 0 else i,) for i in range(n)]
    return spark.createDataFrame(rows, "k long")


def test_hll_estimate_within_expected_error(spark):
    # p=9 → 512 registers → standard error ≈ 1.04/sqrt(512) ≈ 4.6%
    df = _keys_df(spark, 5000)
    row = S.hll_estimate(df, "k", p=9).first()
    assert row["exact_distinct"] == 5000
    assert abs(row["estimate"] - 5000) / 5000 < 0.15  # 3σ+ slack
    assert 0 < row["nonzero_registers"] <= 512


def test_hll_small_range_linear_counting(spark):
    df = _keys_df(spark, 40)
    row = S.hll_estimate(df, "k", p=9).first()
    # linear counting is near-exact at tiny cardinalities
    assert abs(row["estimate"] - 40) <= 3


def test_hll_deterministic_across_runs(spark):
    df = _keys_df(spark, 1000).repartition(13)
    a = S.hll_estimate(df, "k", p=9).first()["estimate"]
    b = S.hll_estimate(df.repartition(3), "k", p=9).first()["estimate"]
    assert a == b  # 4dp rounding absorbs accumulation-order jitter


def test_cms_overestimates_and_is_tight_when_sparse(spark):
    df = spark.createDataFrame(
        [(i % 50,) for i in range(5000)], "k long"
    )
    rows = S.cms_point_estimates(df, "k", depth=4, width=4096).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["overestimate_ok"], r
        assert r["exact"] == 100
        # 50 keys in 4096 slots: collisions essentially impossible
        assert r["est"] == 100


def test_bloom_no_false_negatives_and_counts(spark):
    build = spark.createDataFrame([(i,) for i in range(0, 1000, 2)], "k long")
    probe = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    row = S.bloom_probe_report(build, "k", probe, "k", k=5, m_bits=1 << 14).first()
    assert row["probed"] == 1000
    assert row["true_present"] == 500
    # a Bloom filter NEVER misses a present key
    assert row["maybe_present"] >= row["true_present"]
    assert row["false_positives"] == row["maybe_present"] - row["true_present"]
    # 2500 set bits in 16384 → fp rate ≈ (2500/16384)^5 ≈ 8e-5
    assert row["false_positives"] <= 5


def test_hash_family_matches_python_md5(spark):
    df = spark.createDataFrame([(12345,)], "k long")
    h1c, h2c = S._h1h2(F.col("k"))
    got = df.select(
        h1c.alias("h1"), h2c.alias("h2"), km_mix(h1c, h2c, 3).alias("m3")
    ).first()
    hx = hashlib.md5(b"12345").hexdigest()
    h1 = int(hx[:15], 16)
    h2 = int(hx[16:31], 16)
    assert got["h1"] == h1 and got["h2"] == h2
    assert got["m3"] == (h1 + 3 * h2) % (1 << 60)


def test_hll_merge_equals_direct_sketch(spark):
    """Mergeability: sketching disjoint halves and merging (full-join
    max) must produce EXACTLY the registers — and therefore the
    estimate — of sketching the union directly."""
    df = _keys_df(spark, 3000)
    a = S.hll_registers(df.filter(F.col("k") % 2 == 0), "k", p=9)
    b = S.hll_registers(df.filter(F.col("k") % 2 != 0), "k", p=9)
    merged = {
        (r["bucket"], r["rho"])
        for r in S.hll_merge(a, b).collect()
    }
    direct = {
        (r["bucket"], r["rho"])
        for r in S.hll_registers(df, "k", p=9).collect()
    }
    assert merged == direct
    em = S.hll_estimate_from_registers(S.hll_merge(a, b), 9).first()["estimate"]
    ed = S.hll_estimate_from_registers(S.hll_registers(df, "k", 9), 9).first()["estimate"]
    assert em == ed


def test_hll_merge_overlapping_inputs(spark):
    """Merging OVERLAPPING sketches is still the union (max absorbs
    duplicates) — the roll-up-across-days case."""
    df = _keys_df(spark, 2000)
    a = S.hll_registers(df.filter(F.col("k") < 1500), "k", p=9)
    b = S.hll_registers(df.filter(F.col("k") >= 500), "k", p=9)
    em = S.hll_estimate_from_registers(S.hll_merge(a, b), 9).first()["estimate"]
    ed = S.hll_estimate_from_registers(S.hll_registers(df, "k", 9), 9).first()["estimate"]
    assert em == ed


def test_cms_merge_equals_direct_counters(spark):
    """CMS mergeability: summed counter tables of disjoint halves equal
    the counters of the combined input exactly."""
    df = spark.createDataFrame([(i % 40,) for i in range(2000)], "k long")
    a = S.cms_counters(df.filter(F.col("k") % 2 == 0), "k", depth=4, width=512)
    b = S.cms_counters(df.filter(F.col("k") % 2 != 0), "k", depth=4, width=512)
    merged = {
        (r["row"], r["slot"]): r["cnt"] for r in S.cms_merge(a, b).collect()
    }
    direct = {
        (r["row"], r["slot"]): r["cnt"]
        for r in S.cms_counters(df, "k", depth=4, width=512).collect()
    }
    assert merged == direct


def test_bloom_bits_union_is_merge(spark):
    """Bloom mergeability: the filter of a union is the UNION of the
    bit sets (distinct of the concatenation) — no re-hash needed."""
    a = spark.createDataFrame([(i,) for i in range(0, 400, 2)], "k long")
    b = spark.createDataFrame([(i,) for i in range(1, 400, 2)], "k long")
    u = a.unionByName(b)
    merged = {
        r["pos"]
        for r in S.bloom_bits(a, "k").unionByName(S.bloom_bits(b, "k"))
        .distinct()
        .collect()
    }
    direct = {r["pos"] for r in S.bloom_bits(u, "k").collect()}
    assert merged == direct


def test_bloom_merge_operator_and_probe_from_bits(spark):
    """The named bloom_merge operator (bit-union) and the explicit-bits
    probe entry point: probing through the merged filter must produce
    the same report as the direct filter, and false positives can only
    come from set bits (no false negatives either way)."""
    build = spark.createDataFrame([(i,) for i in range(300)], "k long")
    probe = spark.createDataFrame([(i,) for i in range(150, 600)], "k long")
    a = S.bloom_bits(build.filter(F.col("k") % 2 == 0), "k")
    b = S.bloom_bits(build.filter(F.col("k") % 2 != 0), "k")
    merged = S.bloom_merge(a, b)
    rm = S.bloom_probe_report_from_bits(merged, build, "k", probe, "k").first()
    rd = S.bloom_probe_report(build, "k", probe, "k").first()
    assert rm.asDict() == rd.asDict()
    assert rm["true_present"] == 150  # 150..299 truly present
    assert rm["maybe_present"] >= rm["true_present"]  # no false negatives
    assert rm["false_positives"] == rm["maybe_present"] - rm["true_present"]


def test_cms_estimates_from_merged_counters_equal_direct(spark):
    """cms_point_estimates_from_counters through a merged table gives
    the same per-key estimates as the direct sketch (sum associativity
    end-to-end, not just at the cell level)."""
    df = spark.createDataFrame([(i % 37,) for i in range(1500)], "k long")
    a = S.cms_counters(df.filter(F.col("k") % 3 == 0), "k", depth=4, width=256)
    b = S.cms_counters(df.filter(F.col("k") % 3 != 0), "k", depth=4, width=256)
    merged = S.cms_merge(a, b)
    em = {
        r["k"]: r["est"]
        for r in S.cms_point_estimates_from_counters(
            df, "k", merged, depth=4, width=256
        ).collect()
    }
    ed = {
        r["k"]: r["est"]
        for r in S.cms_point_estimates(df, "k", depth=4, width=256).collect()
    }
    assert em == ed


def test_histogram_quantile_sketch_invariants(spark):
    """The in-bin witness is a theorem (estimate inside the covering
    bin), the merge witness true, and the report deterministic across
    partitionings. On this dense fixture the empirical est-vs-exact gap
    also stays within a bin width — a regression guard, not the sketch's
    guarantee (rank conventions differ: est ranks at n·q, exact at
    (n−1)·q, which on gappy data can straddle empty bins)."""
    df = spark.createDataFrame(
        [(i, float((i * 37) % 1000)) for i in range(4000)], "id long, v double"
    )
    row = S.histogram_quantile_report(
        df, "v", split=F.col("id") % 2 == 0, bins=64
    ).first()
    assert row["merge_consistent"]
    assert row["n"] == 4000
    for tag in ("p5", "p9", "p99"):
        assert row[f"{tag}_in_bin"], row
        w = (row["hi"] - row["lo"]) / 64
        assert abs(row[f"{tag}_est"] - row[f"{tag}_exact"]) <= w + 0.02
    again = S.histogram_quantile_report(
        df.repartition(13), "v", split=F.col("id") % 2 == 0, bins=64
    ).first()
    assert again.asDict() == row.asDict()


def test_histogram_in_bin_holds_on_gappy_data(spark):
    """The ADVICE counterexample: n=2, values {0, 100}, q=0.9 — the
    exact quantile (90) and the estimate (~99.2) land far apart, so the
    old |est−exact| ≤ bin-width claim would FAIL here; the structural
    in-bin witness must still hold."""
    df = spark.createDataFrame(
        [(0, 0.0), (1, 100.0)], "id long, v double"
    )
    row = S.histogram_quantile_report(
        df, "v", split=F.col("id") % 2 == 0, bins=64
    ).first()
    w = (row["hi"] - row["lo"]) / 64
    assert abs(row["p9_est"] - row["p9_exact"]) > w  # the non-theorem
    for tag in ("p5", "p9", "p99"):
        assert row[f"{tag}_in_bin"], row
    assert row["merge_consistent"]


def test_cms_probe_unseen_keys_estimate_zero(spark):
    """Probing keys the counters never saw (the merged-sketch entry
    point's advertised case): absent cells coalesce to 0 so a fully
    unseen key estimates 0 instead of vanishing or inflating, and with
    the build frame as ``exact_from`` its exact count is 0 too — the
    est ≥ exact witness stays a theorem on unseen keys."""
    build = spark.createDataFrame(
        [(i % 7,) for i in range(700)], "k long"
    )
    counters = S.cms_counters(build, "k", depth=4, width=256)
    probe = spark.createDataFrame(
        [(5, "seen"), (9001, "unseen")], "k long, tag string"
    )
    rows = {
        r["k"]: r
        for r in S.cms_point_estimates_from_counters(
            probe, "k", counters, depth=4, width=256, exact_from=build
        ).collect()
    }
    assert set(rows) == {5, 9001}, "unseen key must not vanish"
    assert rows[5]["exact"] == 100 and rows[5]["est"] >= 100
    assert rows[9001]["exact"] == 0  # build-side count, not probe-frame
    assert rows[9001]["est"] <= rows[5]["est"]
    for r in rows.values():
        assert r["overestimate_ok"], r  # est >= build-count: a theorem


def test_histogram_range_shards_invariants(spark):
    """Shard counts sum to n, ranges are disjoint and ordered, every
    shard respects the quota + one-bin structural bound, and the report
    is deterministic across partitionings."""
    df = spark.createDataFrame(
        [(i, float((i * 131) % 997)) for i in range(6000)],
        "id long, v double",
    )
    rows = sorted(
        S.histogram_range_shard_report(df, "v", bins=64, shards=8).collect(),
        key=lambda r: r["shard"],
    )
    assert sum(r["n_rows"] for r in rows) == 6000
    assert all(r["balanced_ok"] for r in rows), rows
    assert all(r["range_disjoint"] for r in rows), rows
    for a, b in zip(rows, rows[1:]):
        assert a["hi_val"] <= b["lo_val"]
    # near-balance in practice on a smooth distribution: no shard more
    # than ~2x the even split (structural bound is quota + max bin)
    assert max(r["n_rows"] for r in rows) <= 2 * (6000 // 8)
    again = sorted(
        S.histogram_range_shard_report(
            df.repartition(13), "v", bins=64, shards=8
        ).collect(),
        key=lambda r: r["shard"],
    )
    assert [r.asDict() for r in again] == [r.asDict() for r in rows]


def test_histogram_range_shards_degenerate_single_value(spark):
    df = spark.createDataFrame([(i, 5.0) for i in range(10)], "id long, v double")
    rows = S.histogram_range_shard_report(df, "v", bins=64, shards=8).collect()
    assert len(rows) == 1 and rows[0]["n_rows"] == 10
    assert rows[0]["balanced_ok"] and rows[0]["range_disjoint"]


def test_frozen_edge_binning_clamps_out_of_range(spark):
    """histogram_bin_expr_frozen: new-batch values outside the saved
    [lo, hi] clamp into the edge bins (below → 0, above → bins-1);
    in-range values bin exactly like the in-plan form; hi == lo
    degenerates to bin 0 for everything."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(-50.0,), (0.0,), (5.0,), (10.0,), (999.0,)], "v double"
    )
    got = {
        r["v"]: r["bin"]
        for r in df.select(
            "v",
            S.histogram_bin_expr_frozen(
                F.col("v"), F.lit(0.0), F.lit(10.0), 4
            ).alias("bin"),
        ).collect()
    }
    assert got == {-50.0: 0, 0.0: 0, 5.0: 2, 10.0: 3, 999.0: 3}
    degen = df.select(
        S.histogram_bin_expr_frozen(
            F.col("v"), F.lit(7.0), F.lit(7.0), 4
        ).alias("bin")
    ).collect()
    assert {r["bin"] for r in degen} == {0}


def test_frozen_edge_fold_equals_direct(spark):
    """Fold of base bins + batch bins under the base's frozen edges ==
    binning the union under the same edges — with the batch extending
    the range on BOTH sides so the clamp path is exercised."""
    from pyspark.sql import functions as F

    bins = 8
    base = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    batch = spark.createDataFrame(
        [(float(i),) for i in range(-20, 140)], "v double"
    )
    edges = base.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))

    def binned(src):
        return (
            src.crossJoin(F.broadcast(edges))
            .select(
                S.histogram_bin_expr_frozen(
                    F.col("v"), F.col("lo"), F.col("hi"), bins
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    ba = {r["bin"]: r["cnt"] for r in binned(base).collect()}
    bb = {r["bin"]: r["cnt"] for r in binned(batch).collect()}
    folded = {b: ba.get(b, 0) + bb.get(b, 0) for b in set(ba) | set(bb)}
    direct = {
        r["bin"]: r["cnt"] for r in binned(base.unionAll(batch)).collect()
    }
    assert folded == direct
    assert sum(folded.values()) == 100 + 160


def test_grouped_cms_equals_scalar_per_group(spark):
    """Per-group independence: the grouped CMS counter table restricted
    to one group is EXACTLY the scalar counter table built over that
    group's rows (no cell sharing across groups), and every per-group
    estimate obeys est >= exact."""
    df = spark.createDataFrame(
        [("a" if i % 3 else "b", i % 40) for i in range(3000)],
        "g string, k long",
    )
    grouped = S.cms_counters(df, "k", depth=4, width=256, by=("g",))
    for g in ("a", "b"):
        scalar = S.cms_counters(
            df.where(F.col("g") == g), "k", depth=4, width=256
        )
        got = {
            (r["row"], r["slot"]): r["cnt"]
            for r in grouped.where(F.col("g") == g).collect()
        }
        want = {(r["row"], r["slot"]): r["cnt"] for r in scalar.collect()}
        assert got == want
    est = S.cms_point_estimates(df, "k", depth=4, width=256, by=("g",))
    for r in est.collect():
        assert r["overestimate_ok"], r


def test_grouped_bloom_equals_scalar_per_group(spark):
    """Per-group independence for the grouped Bloom: each group's bit
    set equals the scalar filter over that group's rows, and probing
    never misses a key truly present in its group."""
    build = spark.createDataFrame(
        [("a" if (i // 2) % 2 else "b", i) for i in range(0, 400, 2)],
        "g string, k long",
    )
    probe = spark.createDataFrame([(i,) for i in range(400)], "k long")
    bits = S.bloom_bits(build, "k", k=5, m_bits=1 << 12, by=("g",))
    for g in ("a", "b"):
        scalar = S.bloom_bits(
            build.where(F.col("g") == g), "k", k=5, m_bits=1 << 12
        )
        got = {r["pos"] for r in bits.where(F.col("g") == g).collect()}
        want = {r["pos"] for r in scalar.collect()}
        assert got == want
    rep = {
        r["g"]: r
        for r in S.bloom_probe_report(
            build, "k", probe, "k", k=5, m_bits=1 << 12, by=("g",)
        ).collect()
    }
    for g in ("a", "b"):
        r = rep[g]
        assert r["probed"] == 400
        assert r["true_present"] == 100
        # no false negatives: every present key is maybe-present
        assert r["maybe_present"] >= r["true_present"]
        assert r["false_positives"] == r["maybe_present"] - r["true_present"]


def test_grouped_hll_equals_scalar_per_group(spark):
    """Per-group independence for the grouped HLL: each group's
    registers equal the scalar registers over that group's rows, and
    each group's estimate row (estimate, nonzero registers, exact
    distinct) equals the scalar sketch's one row."""
    df = spark.createDataFrame(
        [("a" if i % 3 else "b", i % 700) for i in range(3000)],
        "g string, k long",
    )
    regs = S.hll_registers(df, "k", p=9, by=("g",))
    est = {r["g"]: r for r in S.hll_estimate(df, "k", p=9, by=("g",)).collect()}
    assert set(est) == {"a", "b"}
    for g in ("a", "b"):
        part = df.where(F.col("g") == g)
        got = {
            (r["bucket"], r["rho"])
            for r in regs.where(F.col("g") == g).collect()
        }
        want = {(r["bucket"], r["rho"]) for r in S.hll_registers(part, "k").collect()}
        assert got == want
        scalar = S.hll_estimate(part, "k", p=9).first()
        assert est[g].asDict() == {"g": g, **scalar.asDict()}


def test_grouped_histogram_equals_scalar_per_group(spark):
    """Per-group independence for the grouped histogram: each group's
    row equals the scalar sketch over that group's rows (per-group
    edges, counts and rank-pick), and the scalar estimates equal the
    one-row quantile report's."""
    df = spark.createDataFrame(
        [("a" if i % 3 else "b", float((i * 37) % 1000) / 7.0) for i in range(3000)],
        "g string, v double",
    )
    qs = (0.5, 0.9, 0.99)
    grouped = {
        r["g"]: r
        for r in S.histogram_quantiles(df, "v", 64, qs, by=("g",)).collect()
    }
    assert set(grouped) == {"a", "b"}
    for g in ("a", "b"):
        part = df.where(F.col("g") == g)
        scalar = S.histogram_quantiles(part, "v", 64, qs).first()
        assert grouped[g].asDict() == {"g": g, **scalar.asDict()}
        report = S.histogram_quantile_report(
            part, "v", split=F.lit(True), bins=64, qs=qs
        ).first()
        assert report["n"] == scalar["n_rows"]
        for tag in ("p5", "p9", "p99"):
            assert report[f"{tag}_est"] == scalar[f"{tag}_est"]
            assert report[f"{tag}_in_bin"]


_REGS = "bucket long, rho long"


@pytest.mark.parametrize(
    "schema, a, b, equal, same_estimate",
    [
        (_REGS, [(0, 2), (1, 5)], [(1, 5), (0, 2)], True, True),
        # few registers set: linear counting reads only how many are set
        (_REGS, [(0, 2), (1, 5)], [(0, 2), (1, 6)], False, True),
        (_REGS, [(0, 2), (1, 5)], [(0, 2)], False, False),
        (_REGS, [(0, 2)], [(0, 2), (1, 5)], False, False),
        (_REGS, [(0, 2), (1, None)], [(0, 2), (1, 0)], False, None),
        (_REGS, [(0, 2), (1, 5)], [(0, 5), (1, 2)], False, True),
        (
            "row int, slot long, cnt long",
            [(0, 7, 3), (1, 7, 3)],
            [(0, 7, 3), (1, 7, 4)],
            False,
            None,
        ),
        ("pos long", [(3,), (9,)], [(3,), (9,)], True, None),
        ("pos long", [(3,), (9,)], [(3,)], False, None),
        ("pos long", [(3,), (3,)], [(3,)], False, None),
        ("h long", [(3,)], [(3,), (9,)], False, None),
        ("h long", [(None,), (3,)], [(None,), (3,)], True, None),
    ],
    ids=[
        "identical",
        "changed_cell",
        "dropped_row",
        "extra_row",
        "null_vs_zero",
        "hll_buckets_swapped",
        "cms_changed_cell",
        "bloom_identical",
        "bloom_dropped_pos",
        "duplicate_row",
        "kmv_extra_hash",
        "null_key_matches_null_key",
    ],
)
def test_merge_witness(spark, schema, a, b, equal, same_estimate):
    """The merge witness (``msdiff_rows``, as ``same_rows``) and its
    DuckDB twin ``_same_sql`` report equality exactly when two sketch
    tables hold the same rows, in both directions. For HLL register
    tables ``same_estimate`` says whether the two estimates agree: with
    two buckets' ``rho`` swapped (or, in the linear-counting range, one
    register changed) they do, so an estimate compare calls that merge
    consistent, while the register compare does not."""
    import duckdb

    da, db = spark.createDataFrame(a, schema), spark.createDataFrame(b, schema)
    assert S.same_rows(da, db, "eq").first()["eq"] is equal
    assert S.same_rows(db, da, "eq").first()["eq"] is equal
    assert (S.msdiff_rows(da, db).count() == 0) is equal

    ddl = schema.replace("long", "BIGINT").replace("int", "INTEGER")
    cols = ", ".join(c.split()[0] for c in schema.split(", "))
    con = duckdb.connect()
    for name, rows in (("ta", a), ("tb", b)):
        con.execute(f"CREATE TABLE {name} ({ddl})")
        marks = ", ".join("?" * len(rows[0]))
        con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
    for x, y in (("ta", "tb"), ("tb", "ta")):
        got = con.execute(f"SELECT {S._same_sql(x, y, cols)}").fetchone()[0]
        assert got is equal

    if same_estimate is not None:
        ea, eb = (
            S.hll_estimate_from_registers(d, 9).first()["estimate"]
            for d in (da, db)
        )
        assert (ea == eb) == same_estimate
