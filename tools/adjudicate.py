"""Re-measure named registry queries in one fresh session.

Usage: python tools/adjudicate.py <query> [...] [--samples N] [--sf-dir DIR]

Tells a real regression from host contention: each query is built and
forced with a noop write once untimed (a cold session's first samples
measure JIT/codegen warm-up and Python worker start, not the query),
then N times (default 7) with ``clearCache`` before every attempt.
Prints one JSON line per query with the samples in run order, sorted,
their median and the 1-min load average, then a summary line.  A real
regression shifts the whole band; contention widens it.  Input tables
come from ``--sf-dir``, else ``$SPARK_GRAFT_SF_DIR``; the bench runs
at sf0.1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+", metavar="query")
    ap.add_argument("--samples", type=int, default=7)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()
    sf_dir = args.sf_dir
    if not sf_dir:
        ap.error("no input tables: pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    import __spark_entry__ as entry
    from semantic_olap_spark.session import get_spark

    qs = entry.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")
    spark = get_spark("adjudicate")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in args.queries:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"adjudicate warmup: {name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for k in range(args.samples):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"adjudicate {name} #{k}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        ranked = sorted(samples)
        out[name] = {
            "samples_in_order": samples,
            "sorted_samples": ranked,
            "median": ranked[len(ranked) // 2],
            "loadavg_1m": round(os.getloadavg()[0], 2),
        }
        print(json.dumps({name: out[name]}))
    print(json.dumps({"adjudication": out, "sf_dir": sf_dir,
                      "n": args.samples}))
    spark.stop()


if __name__ == "__main__":
    main()
