"""Median-of-3 noop-write walls for named contract queries — the
per-operator wall protocol of BENCH.md's session tables (one JVM, one
untimed warmup pass per query, then three timed noop writes, median).
Next to each wall, ``compiles`` counts the classes the JVM's code
generator compiled during the three timed writes (CodegenMetrics): 0 for
a query whose plan shape compiled once in the warmup, and a count that
grows with the legs for one that recompiles every run.

``--checkout DIR`` times the queries of another checkout (its package
and ``__spark_entry__.py``) instead of this one's. A commit-vs-commit
A/B runs one leg per checkout and interleaves them (A, B, A, B, ...)
within one session, so both sides sample the same VM phase.

Usage: python tools/walls.py [--checkout DIR] SF_DIR CORES Q1 [Q2 ...]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--checkout",
                    default=str(Path(__file__).resolve().parent.parent),
                    help="checkout whose queries run (default: this one)")
    ap.add_argument("sf_dir")
    ap.add_argument("cores", type=int)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    sys.path.insert(0, args.checkout)

    from distributed_crawl_spark.session import build_session

    import __spark_entry__ as entry

    spark = build_session(app_name="walls", cores=args.cores,
                          shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    qs = entry.queries()
    out = {}
    for q in args.queries:
        qs[q](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        walls = []
        c0 = compiled()
        for _ in range(3):
            t0 = time.monotonic()
            qs[q](spark, args.sf_dir).write.format("noop") \
                .mode("overwrite").save()
            walls.append(time.monotonic() - t0)
        compiles = compiled() - c0
        rows = qs[q](spark, args.sf_dir).count()
        out[q] = {"wall_s": round(statistics.median(walls), 3),
                  "compiles": compiles,
                  "rows": rows,
                  "all": [round(w, 3) for w in walls]}
    print(json.dumps({"checkout": args.checkout, "sf_dir": args.sf_dir,
                      "cores": args.cores, "walls": out}))
    spark.stop()


if __name__ == "__main__":
    main()
