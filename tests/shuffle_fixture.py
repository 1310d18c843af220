"""Shared input-layout shuffling — the DETERMINISM audit's fixture
(eleventh degenerate-input dimension, r14).

Every prior audit poisons VALUES; this one perturbs only the physical
LAYOUT: a seeded row permutation plus an uneven multi-file split of
each fixture table, leaving the logical multiset byte-identical. At
100 TB the layout is never stable — compaction, re-partitioning, and
scheduler nondeterminism reorder rows and tasks constantly — so any
query whose RESULT moves with layout (tie-breaks in top-k/row_number
without a total order, unsorted collect_list folds, partial-agg
summation order on non-integral doubles) is silently nondeterministic
in production even though it hash-matches the oracle on the fixed
fixture files. ``tools/audit_determinism.py`` walks the whole oracled
catalog against this fixture; ``tests/test_determinism.py`` walks the
first 50 registered queries inside the suite.
"""

from __future__ import annotations

import os


def shuffle_tables(
    src_dir: str, dst_dir: str, seed: int = 7, parts: int = 3
) -> None:
    """Copy every ``*.parquet`` fixture from ``src_dir`` into
    ``dst_dir`` as a DIRECTORY of ``parts`` uneven part files holding a
    seeded permutation of the rows — same multiset, different physical
    layout (row order, file boundaries, file count)."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(dst_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for f in sorted(os.listdir(src_dir)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src_dir, f))
        n = t.num_rows
        perm = rng.permutation(n)
        shuffled = t.take(perm)
        out_dir = os.path.join(dst_dir, f)
        os.makedirs(out_dir, exist_ok=True)
        # uneven split (~50/30/20 for parts=3) so file sizes, and with
        # them Spark's task boundaries, differ from the original layout
        weights = np.array([2.0**-i for i in range(parts)])
        bounds = np.cumsum(weights / weights.sum() * n).astype(int)
        start = 0
        for i, stop in enumerate(bounds):
            stop = int(min(max(stop, start), n)) if i < parts - 1 else n
            pq.write_table(
                shuffled.slice(start, stop - start),
                os.path.join(out_dir, f"part-{i:02d}.parquet"),
            )
            start = stop
