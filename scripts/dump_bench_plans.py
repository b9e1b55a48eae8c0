#!/usr/bin/env python
"""Dump `.explain("formatted")` for bench queries into <out_dir>/<q>_<tag>.txt.

Optimization-round artifact: plan claims (Exchange counts, join
strategies) are checked against these files without running Spark. Usage:

    python scripts/dump_bench_plans.py plans/r15 before [query ...]
    python scripts/dump_bench_plans.py plans/r15 after  [query ...]

With no query list, dumps every HEADLINE + EXTENDED bench query. Plans are
captured at sf0.1 (the bench scale) with a vanilla-default session from the
repo factory — the same session bench.py uses — so Exchange counts / join
strategies match what the bench actually executes. Queries whose build phase
runs jobs (iterative trainers, qcut edges) pay that cost here; explain itself
does not execute the final plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTENDED, HEADLINE  # noqa: E402
from ecommerce_etl_pipeline_spark.plans import all_queries  # noqa: E402
from ecommerce_etl_pipeline_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    out = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or [*HEADLINE, *EXTENDED]
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name=f"dump_plans_{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in names:
        if name not in queries:
            print(f"skip {name} (not registered)")
            continue
        df = queries[name](spark, SF)
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"))
        spark.catalog.clearCache()
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
