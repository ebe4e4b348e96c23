#!/usr/bin/env python
"""Per-query timing tool: the way to time one registered query, or a
few, in isolation (``bench.py`` times the whole sweep).

NOT part of the driver contract.  It uses bench.py's measurement protocol
(best-of-3 noop-sink runs with ``release_persists()`` + a JVM
``System.gc()`` before each) for an arbitrary subset of registered
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
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from python_fastly_log_query_spark import queries as Q  # noqa: E402
from python_fastly_log_query_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the warm-up slice sits next to the measured scale
WARM_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def main() -> None:
    argv = sys.argv[1:]
    explain = "--explain" in argv
    reps = 3
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
    from python_fastly_log_query_spark.operators.dedup import release_persists

    if explain:
        for name in args:
            df = qmap[name](spark, SF_DIR)
            print(f"==== {name} ====")
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
            release_persists()
        spark.stop()
        return

    # warm-up (mirrors bench.py): tiny-slice runs so classloading/JIT is
    # not charged to the first timed query
    from python_fastly_log_query_spark import oracle_corpus as oc

    oc.parsed_events(spark, WARM_DIR).limit(100).count()
    for warm_q in ("dedup_minhash_lsh", "embedding_lsh_topk"):
        qmap[warm_q](spark, WARM_DIR).write.mode(
            "overwrite").format("noop").save()
    release_persists()

    out: dict[str, float] = {}
    for name in args:
        fn = qmap[name]

        def once() -> float:
            release_persists()
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            return round(time.perf_counter() - t0, 4)

        samples = [once() for _ in range(reps)]
        out[name] = min(samples)
        print(json.dumps({"query": name, "best": min(samples), "samples": samples}),
              file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
