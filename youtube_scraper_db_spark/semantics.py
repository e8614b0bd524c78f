"""SQLite-parity semantics helpers (SURVEY.md §7.1).

The reference runs on SQLite, whose string semantics differ from Spark in
four spots that silently change query results. Each trap gets one helper so
every call site states the intended semantics explicitly:

- ``ci_contains``  — SQLite ``LIKE '%q%'`` is case-insensitive for ASCII
  (ref display.py:547-559); Spark ``contains`` is case-sensitive.
- ``nocase``       — ``ORDER BY title COLLATE NOCASE`` (ref main_scraper.py:98
  et al.); Spark pre-collation portable equivalent is sorting on ``lower()``.
- ``desc_nulls_last`` — SQLite treats NULL as smallest, so DESC puts NULLs
  last (ref display.py:102); Spark's ``desc`` default matches, but we pin it
  explicitly so the intent survives refactors.
- ``first_deterministic`` — SQLite bare-column GROUP BY picks an arbitrary
  row (ref display.py:554, flagged in SURVEY.md §2.11); we define the
  semantics as MIN over the attributed column, which is deterministic and
  oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ci_contains(col: Column | str, needle: str) -> Column:
    """Case-insensitive substring match — parity with SQLite ``LIKE '%q%'``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(c).contains(needle.lower())


def nocase(col: Column | str) -> Column:
    """Sort key for ``COLLATE NOCASE`` ordering."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(c)


def desc_nulls_last(col: Column | str) -> Column:
    """DESC with NULLs last — matches SQLite NULL-is-smallest under DESC."""
    c = F.col(col) if isinstance(col, str) else col
    return c.desc_nulls_last()


def asc_nulls_first(col: Column | str) -> Column:
    """ASC with NULLs first — matches SQLite NULL-is-smallest under ASC."""
    c = F.col(col) if isinstance(col, str) else col
    return c.asc_nulls_first()


def first_deterministic(col: Column | str) -> Column:
    """Deterministic stand-in for SQLite's arbitrary bare-column pick.

    MIN is order-insensitive, shuffle-safe, and expressible identically in
    ANSI SQL — unlike ``F.first`` whose result depends on partition order.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.min(c)
