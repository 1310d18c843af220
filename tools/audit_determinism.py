"""Layout-determinism audit over the oracled catalog (r14 — the
eleventh degenerate-input dimension, and the first that poisons no
VALUE at all).

Every oracled query is hash-checked against DuckDB on the FIXED
fixture files — which cannot distinguish "order-stable by design" from
"order-stable because the input layout never changed". This tool runs
each query twice: once on the pristine fixture dir, once on a copy
whose tables hold a seeded row PERMUTATION split into uneven part
files (``tests/shuffle_fixture.shuffle_tables``), and asserts the two
results are byte-identical as canonical multisets (floats compared by
exact IEEE-754 bytes — the same strictness as the oracle mirror).

Why byte-exact is the right bar: the catalog's float-parity
conventions (registry docstring) claim order-stable emission —
integer-cent sums, value-sorted folds, round-to-integer — precisely so
partial-aggregation order cannot move a hash. A ulp-level drift under
permutation falsifies that claim for the query in question; a
tie-break flip (top-k/row_number without a total order) is a plain
nondeterminism bug that production compaction or task racing would
trigger. At 100 TB layout is NEVER stable; this is the local proof the
engine's answers don't depend on it.

Usage:
    python tools/audit_determinism.py [--seed N] [sf_dir] [name ...]

No names -> every ORACLED query. ``--seed`` picks the permutation
(default 7; a second seed guards against one lucky layout). Exit 0 =
all deterministic.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries
from real_time_predictive_maintenance_data_pipeline_spark.session import get_spark
from tests.oracle_harness import canonical_multiset, first_diff, layout_audited
from tests.shuffle_fixture import shuffle_tables


def main() -> int:
    args = sys.argv[1:]
    seed = 7
    if args and args[0] == "--seed":
        seed = int(args[1])
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    names = args[1:]

    queries = all_queries()
    if names:
        picked = {n: queries[n] for n in names}
    else:
        # Out-of-scope entries (see ``layout_audited``) are skipped by
        # default; pass names explicitly to force anything.
        picked = {n: q for n, q in queries.items() if layout_audited(q)}

    spark = get_spark("audit-determinism")
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory(prefix="rtpmdp_shuffled_") as shuffled:
        shuffle_tables(sf_dir, shuffled, seed=seed)
        t0 = time.time()
        failed: dict[str, str] = {}
        for i, (name, q) in enumerate(sorted(picked.items())):
            try:
                a = canonical_multiset(q.spark(spark, sf_dir))
                b = canonical_multiset(q.spark(spark, shuffled))
                if a == b:
                    print(f"{name}: deterministic ({len(a)} rows)")
                else:
                    failed[name] = first_diff(a, b)
                    print(f"{name}: LAYOUT-DEPENDENT — {failed[name]}")
            except Exception as exc:  # noqa: BLE001 — audit reports, never dies
                failed[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
                print(f"{name}: ERROR — {failed[name]}")
            finally:
                # In finally (like tests/test_determinism.py): a raising
                # 'caches' query must not leak persisted intermediates
                # into every subsequent audited query.
                if "caches" in q.tags:
                    spark.catalog.clearCache()
        dt = time.time() - t0

    print(
        f"\naudited {len(picked)} at {sf_dir} in {dt:.0f}s; "
        f"layout-dependent or errored = {len(failed)} {sorted(failed)}"
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
