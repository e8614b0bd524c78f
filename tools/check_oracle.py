"""Local mirror of the driver's DuckDB-oracle correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, and an
order-insensitive canonicalization of the values (floats via repr,
timestamps via isoformat, NULL as a sentinel) — a stricter local stand-in
for the driver's value hash.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from youtube_scraper_db_spark.registry import REGISTRY  # noqa: E402
from youtube_scraper_db_spark.schemas import TESTDATA_TABLES  # noqa: E402
from youtube_scraper_db_spark.session import get_spark  # noqa: E402


def canon_cell(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def digest(cols: list[str], rows: list[tuple]) -> str:
    """12 hex chars of sha256 over the canonical rows: two runs' ``ok``
    lines diff equal exactly when the Spark rows are identical."""
    return hashlib.sha256(repr(canon_rows(cols, rows)).encode()).hexdigest()[:12]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    specs = [s for s in REGISTRY if not args.names or s.name in args.names]
    failures = 0
    for s in specs:
        t0 = time.time()
        try:
            sdf = s.fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {s.name}: spark error: {e}")
            failures += 1
            continue
        if s.oracle is None:
            print(
                f"ok   {s.name}: rows-only ({len(srows)} rows, "
                f"{time.time()-t0:.1f}s) {digest(scols, srows)}"
            )
            continue
        try:
            res = con.execute(s.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {s.name}: duckdb error: {e}")
            failures += 1
            continue

        ok = True
        # Type lint: the driver's value hash is TYPE-SENSITIVE while the
        # str() canonicalization below is not (Decimal('3') == '3').  A
        # DuckDB windowed SUM / integer product silently widens to
        # HUGEINT -> decimal128 in Arrow, which Spark never emits, so any
        # such oracle output column is a guaranteed driver hash mismatch
        # even when every value is identical (round-8 histogram_range_shards).
        try:
            dtypes = con.execute(
                f"DESCRIBE (SELECT * FROM ({s.oracle}) __t LIMIT 0)"
            ).fetchall()
            leaky = [
                (name, typ)
                for name, typ, *_ in dtypes
                if "DECIMAL" in typ.upper() or "HUGEINT" in typ.upper()
            ]
            if leaky:
                print(
                    f"FAIL {s.name}: non-portable oracle dtype(s) {leaky} — "
                    f"CAST to BIGINT/DOUBLE in the oracle SQL"
                )
                ok = False
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {s.name}: dtype lint error: {e}")
            ok = False
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {s.name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL {s.name}: rowcount spark={len(srows)} oracle={len(orows)}")
            ok = False
        else:
            cs, co = canon_rows(scols, srows), canon_rows(ocols, orows)
            if cs != co:
                bad = [(a, b) for a, b in zip(cs, co) if a != b][:3]
                print(f"FAIL {s.name}: value mismatch; first diffs: {bad}")
                ok = False
        if ok:
            print(
                f"ok   {s.name}: {len(srows)} rows match "
                f"({time.time()-t0:.1f}s) {digest(scols, srows)}"
            )
        else:
            failures += 1

    print(f"\n{len(specs) - failures}/{len(specs)} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
