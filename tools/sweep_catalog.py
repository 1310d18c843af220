"""Byte-strict oracle sweep over the WHOLE catalog (or a named subset)
at any scale factor, with the comparison tests/test_oracle_parity.py
uses.

Why this exists: float-parity hazards can be scale-dependent (a raw
double sum only crosses 2^53, lands on an exact .xxxx5, or rounds to
-0.0 at some data volume). The round-6 byte-strict sf0.1 sweep caught
`rel_experiment_mde` diverging by 2 ulps only at sf0.1 — invisible at
sf0.001/sf0.01 and to the old 6-dp mirror. Run this at sf0.1 after any
float-sensitive change. The driver checks the first 50 names of
``all_queries()`` at sf0.01 first; sweep those names at sf0.01 to
check them beforehand.

Usage:
    python tools/sweep_catalog.py [sf_dir] [name ...]

No names -> every ORACLED query in the catalog (rows-only queries are
run-and-schema checked only when named explicitly). Exit 0 = all green.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries
from real_time_predictive_maintenance_data_pipeline_spark.session import get_spark
from tests.oracle_harness import compare, duck_connection


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args

    queries = all_queries()
    if names:
        unknown = [n for n in names if n not in queries]
        if unknown:
            print(f"unknown queries: {unknown}")
            return 2
        todo = names
    else:
        todo = [n for n, q in queries.items() if q.oracle]

    spark = get_spark("rtpmdp-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    failed = []
    t0 = time.time()
    for name in todo:
        q = queries[name]
        try:
            if q.oracle:
                compare(q.spark(spark, sf_dir), con, q.oracle)
                status = "hash-green"
            else:
                df = q.spark(spark, sf_dir)
                assert df.columns
                df.count()
                status = "rows-only ok"
        except Exception as e:  # noqa: BLE001 — report and continue
            failed.append(name)
            status = f"FAIL: {str(e)[:300]}"
        finally:
            # "caches"-tagged plans persist intermediates that outlive
            # the returned DataFrame; drop them so a whole-catalog sweep
            # doesn't pile them up in executor storage
            if "caches" in q.tags:
                spark.catalog.clearCache()
        print(f"{name}: {status}", flush=True)

    print(
        f"\nswept {len(todo)} at {sf_dir} in {time.time() - t0:.0f}s; "
        f"failed={len(failed)} {failed}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
