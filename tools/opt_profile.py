"""Round-13 optimization harness: time a SUBSET of registry queries with
the bench's exact methodology (noop sink, cache-drop between queries,
min-over-reps) and optionally dump ``explain("formatted")`` per query.

Usage:
    python tools/opt_profile.py [--sf DIR] [--reps N] [--explain OUTDIR]
                                [--suffix _before] name [name ...]

Timing matches bench.py: one untimed warm-up (``session.warm_up``), then
per query, clear cached state, run the plan via the noop sink, keep the
min over reps. Explain output goes to
OUTDIR/<name><suffix>.txt (building a gate's DataFrame may itself run
its scaffolding — streams, localCheckpoints — so --explain costs about
one extra run per query).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youtube_scraper_db_spark.registry import REGISTRY  # noqa: E402
from youtube_scraper_db_spark.session import (  # noqa: E402
    drop_cached_state,
    get_spark,
    time_noop_run,
    warm_up,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    ap.add_argument("--explain", default=None, help="directory for explain('formatted') dumps")
    ap.add_argument("--suffix", default="", help="filename suffix for explain dumps")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark("opt_profile")
    specs = {s.name: s for s in REGISTRY}
    missing = [n for n in args.names if n not in specs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    # untimed, as in bench.py: otherwise rep 0 of the first query pays
    # the session's JVM and JIT warm-up
    warm_up(spark, specs, args.sf)

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in args.names:
            drop_cached_state(spark)
            df = specs[name].fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.explain, f"{name}{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"explain -> {path}")

    timings: dict[str, float] = {}
    for rep in range(max(1, args.reps)):
        for name in args.names:
            spark.sparkContext.setJobDescription(f"opt:{name}")
            took = round(time_noop_run(spark, specs[name].fn, args.sf), 3)
            timings[name] = min(timings.get(name, took), took)
            print(f"rep{rep} {name}: {took:.3f}s")
    print("--- min over reps ---")
    for name in args.names:
        print(f"{timings[name]:8.3f}  {name}")
    print(f"total: {round(sum(timings.values()), 3)}s over {len(timings)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
