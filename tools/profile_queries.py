"""Time individual registry queries solo, after bench.py's own warm-up.

``bench.warm`` builds the same shared set-up the bench sweep runs on
(stream/silver/corpus caches, Arrow workers forked, codegen compiled), so
per-query numbers isolate the operator under test. Each named query runs
``--runs`` times with the noop sink; the JSON line on stdout carries the
runs, the DataFrame build times, min and median, plus the streaming phase
split for the streaming queries. ``--plan TAG`` also writes
``plans/<query>_<TAG>.txt`` with the ``explain("formatted")`` output.

Usage:
    python tools/profile_queries.py [--runs N] [--plan TAG] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan", metavar="TAG")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)

    import bench
    from ecommerce_data_pipeline_spark.queries import QUERIES
    from ecommerce_data_pipeline_spark.queries.streaming_q import STREAMING_PHASES
    from ecommerce_data_pipeline_spark.session import get_spark

    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    setup = bench.warm(spark, sf_dir)

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = QUERIES[name]
        times = []
        builds = []
        STREAMING_PHASES.clear()
        for r in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}#{r}")
            t = time.time()
            df = fn(spark, sf_dir)
            tb = time.time()
            bench.force(df)
            builds.append(round(tb - t, 3))
            times.append(round(time.time() - t, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "runs": times,
            "build": builds,
            "min": min(times),
            "median": round(statistics.median(times), 3),
        }
        if STREAMING_PHASES:
            out[name]["phases"] = dict(STREAMING_PHASES)
        print(f"{name}: min={min(times)} runs={times} build={builds}", file=sys.stderr)
        if args.plan:
            os.makedirs(os.path.join(ROOT, "plans"), exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(ROOT, "plans", f"{name}_{args.plan}.txt"), "w") as fh:
                fh.write(plan)

    print(json.dumps({"setup_sec": setup, "queries": out}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main(sys.argv[1:]))
