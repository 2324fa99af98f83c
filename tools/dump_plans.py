"""Dump .explain('formatted') of named registry queries.

Usage: python tools/dump_plans.py <out_dir> <suffix> <query> [...]

Builds each ``__spark_entry__.queries()`` entry (unexecuted, apart
from the eager jobs its construction runs) and writes
``<out_dir>/<query>_<suffix>.txt``.  Input tables come from
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data, the bench
scale factor).  Typical use: dump ``before`` on the parent commit and
``after`` on the change, then diff the two files.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    import __spark_entry__ as entry
    from semantic_olap_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
