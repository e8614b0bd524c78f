"""``classic_q5_local_volume`` must not depend on how lineitem is
partitioned: revenue is summed exactly (DECIMAL) on both engines before
the 2dp round, so no summation order can move it across a .005
boundary."""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from youtube_scraper_db_spark import registry

# Four ASIA lineitems whose exact revenue, sum(price * (1 - discount)),
# is 1740.595 — a tie at the 2dp boundary. As doubles, summed in row
# order they give 1740.595 (→ 1740.60); summed as two 2-row partial sums
# (two files, two partitions) they give 1740.5949999999998 (→ 1740.59).
PRICES = [377.4, 523.56, 454.2, 557.5]
DISCOUNTS = [0.1, 0.1, 0.07, 0.09]


def _exact_revenue() -> float:
    total = sum(
        Decimal(str(p)) * (1 - Decimal(str(d)))
        for p, d in zip(PRICES, DISCOUNTS)
    )
    return float(total.quantize(Decimal("0.01"), ROUND_HALF_UP))


def _write(root, lineitem_parts: list[range]) -> None:
    ts = dt.datetime(1996, 6, 1)
    tables = {
        "region": {"r_regionkey": pa.array([1], pa.int32()), "r_name": ["ASIA"]},
        "nation": {
            "n_nationkey": pa.array([7], pa.int32()),
            "n_name": ["CHINA"],
            "n_regionkey": pa.array([1], pa.int32()),
        },
        "supplier": {
            "s_suppkey": pa.array([3], pa.int64()),
            "s_nationkey": pa.array([7], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array([5], pa.int64()),
            "c_nationkey": pa.array([7], pa.int32()),
        },
        "orders": {
            "o_orderkey": pa.array([11], pa.int64()),
            "o_custkey": pa.array([5], pa.int64()),
            "o_orderdate": pa.array([ts], pa.timestamp("us")),
        },
    }
    for name, cols in tables.items():
        (root / f"{name}.parquet").mkdir()
        pq.write_table(pa.table(cols), root / f"{name}.parquet" / "part-0.parquet")
    (root / "lineitem.parquet").mkdir()
    for i, rows in enumerate(lineitem_parts):
        part = pa.table(
            {
                "l_orderkey": pa.array([11] * len(rows), pa.int64()),
                "l_suppkey": pa.array([3] * len(rows), pa.int64()),
                "l_extendedprice": [PRICES[j] for j in rows],
                "l_discount": [DISCOUNTS[j] for j in rows],
            }
        )
        pq.write_table(part, root / "lineitem.parquet" / f"part-{i}.parquet")


def test_q5_input_flips_with_summation_order():
    terms = [p * (1 - d) for p, d in zip(PRICES, DISCOUNTS)]
    in_order = ((terms[0] + terms[1]) + terms[2]) + terms[3]
    two_parts = (terms[0] + terms[1]) + (terms[2] + terms[3])
    assert (repr(in_order), repr(two_parts)) == ("1740.595", "1740.5949999999998")


@pytest.mark.parametrize(
    "parts", [[range(4)], [range(2), range(2, 4)]], ids=["one_file", "two_files"]
)
def test_q5_revenue_is_exact_under_any_partitioning(spark, tmp_path, parts):
    _write(tmp_path, parts)
    spark_rows = [
        tuple(r) for r in registry.classic_q5_local_volume(spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    for name in ("region", "nation", "supplier", "customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{name}.parquet/*.parquet')"
        )
    spec = next(s for s in registry.REGISTRY if s.name == "classic_q5_local_volume")
    oracle_rows = con.execute(spec.oracle).fetchall()
    want = [("CHINA", _exact_revenue())]
    assert want == [("CHINA", 1740.6)]
    assert spark_rows == want
    assert oracle_rows == want
