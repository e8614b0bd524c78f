"""Same-process A/B timing of registry gates: the package of a base
checkout and the package of this checkout, loaded side by side and
timed in one Spark session.

Usage:
    python tools/ab_profile.py --base DIR [--sf DIR] [--pairs N] name [name ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``.

``DIR`` is another checkout of this repository, for example the parent
commit unpacked with ``git archive PARENT | tar -x -C DIR``. Its package
is imported under the name ``sg_base``, so both registries live in one
process and share one JVM, one warm-up and one set of caches: timings
taken in separate processes drift by more than a few-percent change.

Each pair runs every named gate once on each side, one side's gates
after the other's, base first in even pairs and change first in odd
ones. So each gate follows the same gates on both sides: interleaved
gate by gate, the second side of each gate finds the first side's
file listings and footers warm, and reads faster. A run is timed as in bench.py (noop sink, cached state
dropped first). Per pair it prints both totals; at the end, the number
of pairs the change was faster in and each side's median and quartiles
of the per-pair totals.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youtube_scraper_db_spark import registry  # noqa: E402
from youtube_scraper_db_spark.session import get_spark, time_noop_run, warm_up  # noqa: E402

PKG = "youtube_scraper_db_spark"


def load_base_registry(base: str, name: str = "sg_base"):
    """``registry`` of the package in checkout ``base``, imported as
    package ``name`` (the package imports itself only relatively)."""
    pkg_dir = os.path.join(os.path.abspath(base), PKG)
    spec = importlib.util.spec_from_file_location(
        name,
        os.path.join(pkg_dir, "__init__.py"),
        submodule_search_locations=[pkg_dir],
    )
    module = importlib.util.module_from_spec(spec)
    sys.modules[name] = module
    spec.loader.exec_module(module)
    return importlib.import_module(f"{name}.registry")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout to compare against")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf", default=sf, required=sf is None, help="dataset dir")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sides = {
        "base": {s.name: s for s in load_base_registry(args.base).REGISTRY},
        "change": {s.name: s for s in registry.REGISTRY},
    }
    missing = [n for n in args.names for side in sides.values() if n not in side]
    if missing:
        print(f"unknown queries: {sorted(set(missing))}", file=sys.stderr)
        return 2

    spark = get_spark("ab_profile")
    warm_up(spark, sides["change"], args.sf)
    totals: dict[str, list[float]] = {"base": [], "change": []}
    for pair in range(args.pairs):
        order = ["base", "change"] if pair % 2 == 0 else ["change", "base"]
        took = {"base": 0.0, "change": 0.0}
        for side in order:
            for name in args.names:
                took[side] += time_noop_run(spark, sides[side][name].fn, args.sf)
        for side in took:
            totals[side].append(took[side])
        print(f"pair {pair}: base {took['base']:.3f}s  change {took['change']:.3f}s", flush=True)

    faster = sum(c < b for b, c in zip(totals["base"], totals["change"]))
    print(f"change faster in {faster}/{args.pairs} pairs")
    for side in ("base", "change"):
        q1, med, q3 = statistics.quantiles(totals[side], n=4)
        print(f"{side}: median {med:.3f}s, quartiles {q1:.3f}s .. {q3:.3f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
