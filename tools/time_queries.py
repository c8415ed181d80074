"""Time a subset of queries() at a given sf dir — controlled re-measure.

Usage: python tools/time_queries.py [sf_dir] [query ...]
Prints one JSON line {name: sec}. Each query is timed twice (cold, warm)
to separate plan/codegen cost from steady-state.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sink import consume  # noqa: E402
from zen3geo_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args

    import __spark_entry__ as E
    import bench

    spark = get_spark(app_name="timeq", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.range(1000).count()
    bench.warm_python_workers(spark)

    qs = E.queries()
    if not names:
        names = list(qs)
    out = {}
    for n in names:
        fn = qs[n]
        t0 = time.time()
        consume(fn(spark, sf_dir))
        cold = time.time() - t0
        t0 = time.time()
        consume(fn(spark, sf_dir))
        warm = time.time() - t0
        out[n] = {"cold": round(cold, 2), "warm": round(warm, 2)}
        print(json.dumps({n: out[n]}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
