#!/usr/bin/env python
"""Per-query timing tool: the way to time one registered query, or a
few, in isolation (``bench.py`` times the whole sweep).

NOT part of the driver contract.  It imports bench.py's measurement
protocol (``bench.timed2``: best-of-N noop-sink runs with
``release_persists()`` + a JVM ``System.gc()`` before each) and its
warm-up (``bench.warm_up``) for an arbitrary subset of registered
queries, so a single query can be re-timed in seconds instead of
re-running the whole bench.

Usage:
    python bench_extra.py q1 q2 ...          # time the named queries
    python bench_extra.py --explain q1 ...   # print .explain("formatted")
    python bench_extra.py --reps 5 q1        # best-of-N (also --reps=5)
    SPARK_GRAFT_SF_DIR=... overrides the data dir (default sf0.1).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import REPS, SF_DIR, timed2, warm_up  # noqa: E402
from python_fastly_log_query_spark import queries as Q  # noqa: E402
from python_fastly_log_query_spark.operators.dedup import release_persists  # noqa: E402
from python_fastly_log_query_spark.session import get_spark  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    explain = "--explain" in argv
    reps = REPS
    args = []
    while argv:
        a = argv.pop(0)
        if a == "--reps":
            reps = int(argv.pop(0))
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif not a.startswith("--"):
            args.append(a)
    spark = get_spark("bench_extra")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = Q.queries()

    if explain:
        for name in args:
            df = qmap[name](spark, SF_DIR)
            print(f"==== {name} ====")
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
            release_persists()
        spark.stop()
        return

    warm_up(spark, qmap)
    out: dict[str, float] = {}
    for name in args:
        fn = qmap[name]
        out[name] = timed2(
            spark,
            lambda fn=fn: fn(spark, SF_DIR).write.mode("overwrite").format("noop").save(),
            reps,
        )
        print(json.dumps({"query": name, "best": out[name], "reps": reps}), file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
