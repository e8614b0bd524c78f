"""tools/ab_profile.py: a second checkout's package loads under another
name beside this one, with its own registry."""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import ab_profile  # noqa: E402


def test_base_registry_loads_beside_this_one():
    from youtube_scraper_db_spark import registry

    base = ab_profile.load_base_registry(str(REPO), "sg_base_test")
    assert base is not registry
    assert base.__name__ == "sg_base_test.registry"
    assert [s.name for s in base.REGISTRY] == [s.name for s in registry.REGISTRY]
    assert base.REGISTRY[0].fn is not registry.REGISTRY[0].fn
