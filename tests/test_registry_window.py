"""Guard the driver's oracle window.

The driver oracles the first 50 entries of ``queries()``. ``queries()``
lists the registry stalest first: by the latest round whose
``CORRECTNESS_r{N}.json`` holds a green row for the query, never-green
first, ties in registration order. These tests pin that rule on synthetic
rows and check it holds on whatever round files the checkout carries.
"""

from __future__ import annotations

import json

from youtube_scraper_db_spark import registry

W = 50  # the driver's oracle window
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
NAMES = [s.name for s in registry.REGISTRY]


def order(names: list[str], rows: dict[int, dict]) -> list[str]:
    return list(registry._stalest_first(dict.fromkeys(names), rows))


def test_never_checked_queries_come_first():
    rows = {1: {"a": GREEN, "c": GREEN}}
    assert order(["a", "b", "c", "d"], rows) == ["b", "d", "a", "c"]


def test_red_row_is_not_green():
    reds = [
        GREEN | {"hash_match": False},
        GREEN | {"rows_match": None},
        GREEN | {"schema_match": False},
        GREEN | {"err": "AnalysisException"},
    ]
    for red in reds:
        rows = {1: {"a": GREEN, "b": GREEN}, 2: {"a": red, "b": GREEN}}
        assert order(["b", "a"], rows) == ["a", "b"]


def test_ties_break_by_registration_order():
    rows = {5: {"x": GREEN}, 3: {"z": GREEN, "y": GREEN}}
    assert order(["z", "x", "y"], rows) == ["z", "y", "x"]


def test_order_is_deterministic():
    rows = registry._correctness_rows()
    assert order(NAMES, rows) == order(NAMES, rows)
    assert list(registry.queries()) == list(registry.queries())


def test_six_rounds_cover_every_query():
    """Each simulated round checks its window green; ⌈len/W⌉ rounds
    reach every query, starting from no rows at all."""
    rows: dict[int, dict] = {}
    covered: set[str] = set()
    for rnd in range(1, -(-len(NAMES) // W) + 1):
        window = order(NAMES, rows)[:W]
        rows[rnd] = {n: GREEN for n in window}
        covered |= set(window)
    assert covered == set(NAMES)


def test_unreadable_round_file_counts_as_missing(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": GREEN}))
    (tmp_path / "CORRECTNESS_r02.json").write_text('{"a": {"rows_ma')
    assert registry._correctness_rows(tmp_path) == {1: {"a": GREEN}}


def test_window_is_stalest_on_committed_rows():
    last: dict[str, int] = {}
    for rnd, rows in registry._correctness_rows().items():
        for name, row in rows.items():
            if all(row.get(k) == v for k, v in GREEN.items()):
                last[name] = max(last.get(name, 0), rnd)
    names = list(registry.queries())
    inside = [last.get(n, 0) for n in names[:W]]
    outside = [last.get(n, 0) for n in names[W:]]
    assert max(inside) <= min(outside)


def test_every_windowed_query_has_an_oracle():
    window = list(registry.queries())[:W]
    oracles = registry.oracle_sql()
    missing = [n for n in window if n not in oracles]
    assert not missing, f"windowed queries with no oracle SQL (weaker check): {missing}"


def test_registry_has_no_duplicate_names():
    assert len(NAMES) == len(set(NAMES))


def test_queries_and_oracles_cover_registry():
    q = registry.queries()
    assert len(q) == len(registry.REGISTRY)
    # every oracle key must correspond to a registered query
    assert set(registry.oracle_sql()) <= set(q)
