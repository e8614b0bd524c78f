"""The portable md5 hash family — ONE implementation of the
arithmetic every oracle-replayable hash pipeline shares (MinHash
signatures and band buckets in llm/dedup.py, the HLL/CMS/Bloom
sketches in operators/sketches.py, KMV in operators/kmv.py).

``h1/h2`` are the two 60-bit halves of one md5 digest (hex chars 1-15
and 17-31). Both engine forms live here: ``md5_halves`` is the Spark
Column form (``conv(substring(md5(x), …), 16, 10)``) and
``md5_halves_sql`` the DuckDB SQL form (a ``'0x'``-prefixed hex
substring cast to BIGINT). Seeded variants are Kirsch-Mitzenmacher
mixes ``(h1 + i·h2) mod 2^60`` (``km_mix`` / ``km_mix_sql``) with the
multiply split at 30 bits so every intermediate stays below 2^61 —
Java longs would wrap silently while DuckDB BIGINTs would raise, and
the split makes both engines compute the SAME exact integers. That
cross-engine identity is a correctness contract: it is what lets the
driver hash-check sketch estimates and LSH pair lists value-for-value,
so any change here changes both engines at once (this module exists so
there is exactly one place to change; no other package module spells
the SQL form out).

Production pipelines swap md5 → xxhash64 for throughput; the md5 form
is the oracle-gated path."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P60 = 1 << 60
P30 = 1 << 30


def md5_halves(col: Column) -> tuple[Column, Column]:
    """ONE md5 per value → two independent 60-bit halves (hex chars
    1-15 and 17-31)."""
    md = F.md5(col)
    h1 = F.conv(F.substring(md, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 17, 15), 16, 10).cast("long")
    return h1, h2


def md5_halves_sql(expr: str) -> tuple[str, str]:
    """The DuckDB twin of ``md5_halves``: the two 60-bit halves of
    ``md5(expr)`` as BIGINT SQL expressions. ``expr`` must already be
    VARCHAR (cast keys first, as the Spark side does)."""
    h1, h2 = (
        f"('0x' || substr(md5({expr}), {i}, 15))::BIGINT" for i in (1, 17)
    )
    return h1, h2


def km_mix(h1: Column, h2: Column, i: int) -> Column:
    """Seed-``i`` hash from the md5 halves: ``(h1 + i·h2) mod 2^60`` in
    overflow-free exact integer arithmetic (30-bit split multiply):
    ``(h1 + ((i·(h2≫30)) mod 2^30)·2^30 + i·(h2 ∧ (2^30−1))) mod 2^60``."""
    if i == 0:
        return h1
    hi = (F.lit(i) * F.shiftright(h2, 30)) % F.lit(P30) * F.lit(P30)
    lo = F.lit(i) * h2.bitwiseAND(F.lit(P30 - 1))
    return (h1 + hi + lo) % F.lit(P60)


def km_mix_sql(i: int, h1: str = "h1", h2: str = "h2") -> str:
    """The DuckDB twin of ``km_mix`` as a SQL expression string."""
    if i == 0:
        return h1
    return (
        f"({h1} + (({i} * ({h2} >> 30)) % {P30}) * {P30}"
        f" + {i} * ({h2} & {P30 - 1})) % {P60}"
    )
