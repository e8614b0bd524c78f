"""Sliding-calendar family (round 11): the (grain, width)-parameterized
leaf-store services — KMV (operators/kmv.py), HLL register tables
(operators/sketches.py), Misra-Gries heavy hitters
(operators/heavy_hitters.py). Window merges must equal direct builds
(merge exactness) and the MG candidate-union recount must be exact."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from youtube_scraper_db_spark.operators import kmv as op_kmv
from youtube_scraper_db_spark.operators import sketches as op_sk
from youtube_scraper_db_spark.operators.heavy_hitters import (
    mg_sliding_heavy_hitters,
)


def _events(spark):
    # 10 days; day d has users [0 .. 3d] (growing), plus a dominant
    # user 999 with 2d+1 events on every day (a guaranteed heavy hitter)
    rows = []
    base = dt.datetime(2024, 3, 1)
    for d in range(10):
        day = base + dt.timedelta(days=d)
        rows += [(day, f"u{u}") for u in range(3 * d + 1)]
        rows += [(day, "u999")] * (2 * d + 1)
    return spark.createDataFrame(rows, "ts timestamp, user string")


def test_kmv_width_one_equals_per_leaf_sketch(spark):
    ev = _events(spark)
    leaves = op_kmv.kmv_leaf_sketches(ev, "ts", "user", 8, "day")
    est_w1 = op_kmv.kmv_sliding_estimates(leaves, 8, 1, "day")
    grouped = op_kmv.kmv_estimate(
        op_kmv.kmv_sketch_grouped(
            ev.withColumn("d", F.date_trunc("day", "ts")), "d", "user", 8
        ),
        8,
        by=("g",),
    )
    a = {
        r["wend"]: (r["estimate"], r["sketch_size"], r["kth_hash"])
        for r in est_w1.collect()
    }
    b = {
        dt.datetime.fromisoformat(r["g"]): (
            r["estimate"],
            r["sketch_size"],
            r["kth_hash"],
        )
        for r in grouped.collect()
    }
    assert a == b


def test_kmv_window_merge_equals_direct_window_sketch(spark):
    ev = _events(spark)
    k, width = 8, 4
    leaves = op_kmv.kmv_leaf_sketches(ev, "ts", "user", k, "day")
    est = {
        r["wend"]: (r["sketch_size"], r["kth_hash"])
        for r in op_kmv.kmv_sliding_estimates(leaves, k, width, "day").collect()
    }
    for wend, (size, kth) in est.items():
        lo = wend - dt.timedelta(days=width - 1)
        direct = op_kmv.kmv_sketch(
            ev.where(
                (F.date_trunc("day", "ts") >= F.lit(lo))
                & (F.date_trunc("day", "ts") <= F.lit(wend))
            ),
            "user",
            k,
        )
        hashes = [r["h"] for r in direct.collect()]
        assert (len(hashes), max(hashes)) == (size, kth)


def test_hll_window_merge_equals_direct_registers(spark):
    ev = _events(spark)
    width = 3
    leaves = op_sk.hll_leaf_registers(ev, "ts", "user", "day")
    slid = {
        r["wend"]: (r["estimate"], r["nonzero_registers"])
        for r in op_sk.hll_sliding_estimates(leaves, width, "day").collect()
    }
    for wend, got in slid.items():
        lo = wend - dt.timedelta(days=width - 1)
        win = ev.where(
            (F.date_trunc("day", "ts") >= F.lit(lo))
            & (F.date_trunc("day", "ts") <= F.lit(wend))
        )
        direct = op_sk.hll_estimate_from_registers(
            op_sk.hll_registers(win, "user")
        ).first()
        assert (direct["estimate"], direct["nonzero_registers"]) == got


def test_mg_sliding_exact_vs_brute(spark):
    ev = _events(spark)
    k, width = 4, 3
    got = sorted(
        (r["wend"], r["user"], r["cnt"], r["n_total"])
        for r in mg_sliding_heavy_hitters(
            ev, "ts", "user", k, width, "day"
        ).collect()
    )
    rows = ev.collect()
    days = sorted({r["ts"].replace(hour=0) for r in rows})
    expected = []
    for wend in days:
        lo = wend - dt.timedelta(days=width - 1)
        win = [r for r in rows if lo <= r["ts"] <= wend]
        n = len(win)
        from collections import Counter

        for u, c in Counter(r["user"] for r in win).items():
            if c * k > n:
                expected.append((wend, u, c, n))
    assert got == sorted(expected)
    # the dominant user must actually be caught somewhere
    assert any(u == "u999" for _, u, _, _ in got)


def test_spine_window_ends_and_leaves(spark):
    from youtube_scraper_db_spark.operators import sliding

    ev = _events(spark)
    leaves = op_kmv.kmv_leaf_sketches(ev, "ts", "user", 8, "day")
    ends = sliding.window_ends(leaves)
    assert ends.count() == 10  # one end per day with a leaf
    # width-3 windows: day d's window holds leaves of days d-2..d, so
    # the tagged row count is sum over ends of min(3, d+1)
    tagged = sliding.window_leaves(
        leaves.select("leaf").distinct(), 3, "day"
    )
    per_end = {
        r.wend.day: r.n
        for r in tagged.groupBy("wend")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_end[1] == 1 and per_end[2] == 2
    assert all(per_end[d] == 3 for d in range(3, 11))


def test_spine_null_key_day_produces_no_end(spark):
    # the ADVICE alignment: a day whose keys are ALL null must produce
    # no leaf and therefore no window end, on the engine side too
    from youtube_scraper_db_spark.operators import sliding

    ev = _events(spark).unionByName(
        spark.createDataFrame(
            [(dt.datetime(2024, 3, 20), None)], "ts timestamp, user string"
        )
    )
    leaves = op_kmv.kmv_leaf_sketches(ev, "ts", "user", 8, "day")
    ends = {r.wend.day for r in sliding.window_ends(leaves).collect()}
    assert 20 not in ends and len(ends) == 10


def test_spine_cross_family_same_ends(spark):
    # the sliding_spine_consistency gate's property in miniature: KMV
    # and HLL leaves from the same spine expose identical window ends
    from youtube_scraper_db_spark.operators import sliding

    ev = _events(spark)
    ke = sliding.window_ends(op_kmv.kmv_leaf_sketches(ev, "ts", "user", 8))
    he = sliding.window_ends(op_sk.hll_leaf_registers(ev, "ts", "user"))
    assert ke.exceptAll(he).count() == 0
    assert he.exceptAll(ke).count() == 0


def test_bloom_sliding_window_bits_equal_direct_filter(spark):
    # bit-union of a window's leaf filters == the filter built directly
    # over the window's raw rows (set-union associativity)
    ev = _events(spark)
    leaves = op_sk.bloom_leaf_bits(ev, "ts", "user", k=5, m_bits=1 << 10)
    from youtube_scraper_db_spark.operators import sliding as op_sliding

    wbits = (
        op_sliding.window_leaves(leaves, 3, "day", broadcast_leaves=False)
        .select("wend", "pos")
        .distinct()
    )
    ends = [r["wend"] for r in op_sliding.window_ends(leaves).collect()]
    assert len(ends) == 10
    import datetime as _dt

    for wend in ends[:3]:
        lo = wend - _dt.timedelta(days=2)
        win_rows = ev.where(
            (F.date_trunc("day", "ts") >= F.lit(lo))
            & (F.date_trunc("day", "ts") <= F.lit(wend))
        )
        direct = op_sk.bloom_bits(win_rows, "user", 5, 1 << 10)
        got = wbits.where(F.col("wend") == F.lit(wend)).select("pos")
        assert got.exceptAll(direct).count() == 0
        assert direct.exceptAll(got).count() == 0


def test_bloom_sliding_probe_truth_exact(spark):
    # true_present per window must equal the exact distinct membership
    # of the probe set in the window's rows; maybe >= true always
    ev = _events(spark)
    probes = spark.createDataFrame(
        [("u0",), ("u5",), ("u20",), ("u999",), ("zzz",)], "k string"
    )
    leaves = op_sk.bloom_leaf_bits(ev, "ts", "user", k=5, m_bits=1 << 10)
    rep = op_sk.bloom_sliding_probe_report(
        leaves, ev, probes, "ts", "user", "k", 3, "day", 5, 1 << 10
    ).collect()
    assert len(rep) == 10
    import datetime as _dt

    for r in rep:
        assert r["probed"] == 5
        assert r["maybe_present"] >= r["true_present"]
        assert (
            r["false_positives"]
            == r["maybe_present"] - r["true_present"]
        )
        lo = r["wend"] - _dt.timedelta(days=2)
        exact = (
            ev.where(
                (F.date_trunc("day", "ts") >= F.lit(lo))
                & (F.date_trunc("day", "ts") <= F.lit(r["wend"]))
            )
            .select("user")
            .distinct()
            .join(probes, F.col("user") == F.col("k"), "left_semi")
            .count()
        )
        assert r["true_present"] == exact


def test_window_leaves_rejects_wend_collision(spark):
    # r12 ADVICE: a leaf table carrying 'wend' must fail loudly, not
    # resolve ambiguously
    from youtube_scraper_db_spark.operators import sliding as op_sliding

    leaves = spark.createDataFrame(
        [(dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 1))],
        "leaf timestamp, wend timestamp",
    )
    try:
        op_sliding.window_leaves(leaves, 3, "day")
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "wend" in str(e)
