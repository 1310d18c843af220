"""Fingerprint every catalog query's ANALYZED logical plan, so a
refactor can show that it left every plan unchanged.

The tool builds each registered query at sf0.001, canonicalizes
``analyzed().toString()`` (expression ids, plan ids, file paths and
scratch dirs stripped — everything Catalyst regenerates per session)
and writes ``PLAN_DIGESTS.json`` {name: sha256-16}. Regenerate and
commit the file with any change that is meant to alter a plan; run
``--check`` after a change that is not, and it names every query whose
plan moved.

Usage:
  python tools/plan_digest.py               # regenerate PLAN_DIGESTS.json
  python tools/plan_digest.py --check       # regenerate to a temp dict and
                                            # diff vs the committed file
                                            # (exit 1 if any name changed)

Skips (digest = a fixed sentinel, never a hash):
- ``eager-io``-tagged queries: their construction moves live transport
  bytes (MQTT broker threads, streaming roundtrips) — plan text is
  wire-dependent and the driver already treats them rows-only.

Determinism: two back-to-back runs in fresh sessions must agree —
``tests/test_plan_digest_tool.py`` pins that on a sample; regenerate
twice when in doubt. Queries ARE constructed, so index-building ones
(KMeans fits, label propagation) execute real sf0.001 jobs here: the
full run takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "PLAN_DIGESTS.json")
SF_DIR = os.environ.get("PLAN_DIGEST_SF_DIR", "/root/testdata/sf0.001")
EAGER_SENTINEL = "eager-io:not-fingerprinted"

_NORMALIZERS = (
    # expression ids: l_orderkey#123L -> l_orderkey#L
    (re.compile(r"#(\d+)"), "#"),
    # adaptive/codegen plan ids
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=]"),
    # any file-ish path (parquet locations, scratch roundtrip dirs,
    # checkpoint dirs): file:/..., /tmp/..., spark-warehouse/...
    (re.compile(r"file:[^\s,\)\]]+"), "PATH"),
    (re.compile(r"/[-\w./]*/(?:testdata|tmp|rtpmdp[^\s,\)\]]*|spark-warehouse)[^\s,\)\]]*"), "PATH"),
    # InMemoryFileIndex prints a path count that tracks the tmp layout
    (re.compile(r"InMemoryFileIndex\([^)]*\)"), "InMemoryFileIndex()"),
    # python UDF ordinals are assigned per-session
    (re.compile(r"pythonUDF\d+"), "pythonUDF"),
    # JVM closure identities (MLlib object-API plans):
    # ALSModel$$Lambda$4614/0x00007f...@5da8823f
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-fA-F]+"), "$$Lambda"),
    (re.compile(r"@[0-9a-fA-F]{6,}"), "@"),
    # LogicalRDD carries per-session RDD identity in some renderings
    (re.compile(r"\bRDD\b[^,\n]*"), "RDD"),
    # higher-order-function lambda variables render as x_10#917: the
    # ordinal comes from a PER-SESSION counter, so it tracks how many
    # lambda-using queries were constructed EARLIER in the session —
    # i.e. pure registration order. Found in r11: reordering the
    # catalog flipped 36 transform/aggregate digests
    # with zero plan changes. Runs after the exprId strip (x_10#917 ->
    # x_10# -> x_#). Anchored to [xyz] (r11 ADVICE): PySpark IGNORES
    # the Python lambda's argument names and always renders the
    # canonical UnresolvedNamedLambdaVariable stems x/y/z (verified on
    # transform/aggregate/filter in this container), so any broader
    # pattern only risks hiding a REAL rename of a user column like
    # top_10 -> top_20 from the digest diff.
    (re.compile(r"\b([xyz])_\d+#"), r"\1_#"),
    # CTE relation / recursion ids are a per-session counter too
    # (CTERelationDef 2 / CTERelationRef 2 / UnionLoop 2 /
    # UnionLoopRef 2) — same registration-order instability as the
    # lambda ordinals, found in r12 when a catalog reorder flipped
    # rel_window_ignore_nulls / rel_recursive_cte digests with zero
    # code changes.
    (re.compile(r"\b(CTERelationDef|CTERelationRef|UnionLoop|UnionLoopRef) \d+"), r"\1 "),
    # object-encoder lambda variables (Dataset plans under MLlib object
    # APIs, e.g. ALS recommendForAllUsers) render a per-session variable
    # id: lambdavariable(MapObject, ObjectType(class ...), true, 43) —
    # same counter class as the two above (r12).
    (
        re.compile(
            r"(lambdavariable\(\w+, ObjectType\([^)]*\), (?:true|false)), \d+\)"
        ),
        r"\1)",
    ),
)


def canonical_plan(df) -> str:
    # ANALYZED plan, not optimized: the analyzed tree is a direct,
    # deterministic translation of the authored DataFrame ops — exactly
    # the "did this code change alter this query?" signal. Optimizer
    # output is NOT render-stable across sessions (e.g.
    # RewriteDistinctAggregates assigns gids in expression-hash order,
    # which permutes with the session's exprId counter — observed on
    # rel_count_distinct_multi), so hashing it flagged false changes.
    s = df._jdf.queryExecution().analyzed().toString()
    for pat, repl in _NORMALIZERS:
        s = pat.sub(repl, s)
    return s


def digest(df) -> str:
    return hashlib.sha256(canonical_plan(df).encode()).hexdigest()[:16]


def generate(spark, names: list[str] | None = None) -> dict[str, str]:
    from real_time_predictive_maintenance_data_pipeline_spark.plans import (
        all_queries,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.plans.registry import (
        _REGISTRY,
    )

    todo = names or all_queries()
    out: dict[str, str] = {}
    for i, name in enumerate(todo):
        q = _REGISTRY[name]
        if "eager-io" in q.tags:
            out[name] = EAGER_SENTINEL
            continue
        try:
            # a prior query's .cache() would substitute InMemoryRelation
            # into THIS plan (CacheManager rewrites every later plan that
            # subsumes a cached one), making digests depend on catalog
            # order and cache timing — fingerprint cache-free instead
            spark.catalog.clearCache()
            out[name] = digest(q.spark(spark, SF_DIR))
        except Exception as exc:  # a build crash must be loud, not a hash
            out[name] = f"ERROR:{type(exc).__name__}"
            print(f"  !! {name}: {exc}", file=sys.stderr)
        if (i + 1) % 50 == 0:
            print(f"  {i + 1}/{len(todo)}", file=sys.stderr)
    return out


def fixture_fingerprints(sf_dir: str = SF_DIR) -> dict[str, str]:
    """Arrow-schema hash per fixture table, stored under the reserved
    ``__fixtures__`` key. The round-11 lesson: the driver regenerates
    /root/testdata between rounds and a physical-type flip (events.ts
    nanos -> micros) changed 49 analyzed plans with ZERO code edits —
    indistinguishable from code churn in the name-level diff. With the
    schema fingerprint recorded alongside the digests, ``--check`` can
    attribute a mass digest shift to the fixture drift that caused it
    (and name the drifted tables) instead of presenting it as 49
    independent plan changes."""
    import pyarrow.parquet as pq

    out = {}
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            schema = pq.read_schema(os.path.join(sf_dir, f))
            # drop pandas metadata noise; the physical schema is the signal
            s = schema.remove_metadata().to_string(show_schema_metadata=False)
            out[f.removesuffix(".parquet")] = hashlib.sha256(
                s.encode()
            ).hexdigest()[:16]
    return out


def _session():
    from real_time_predictive_maintenance_data_pipeline_spark.session import (
        get_spark,
    )

    # Pinned at 32 cores, the setting PLAN_DIGESTS.json was generated
    # with: spread() repartitions to the session's core count, so the
    # digests of those plans would otherwise follow the host.
    return get_spark(cpus="32")


def main() -> int:
    check = "--check" in sys.argv
    spark = _session()
    fresh = generate(spark)
    bad = sorted(n for n, d in fresh.items() if d.startswith("ERROR:"))
    if check:
        if not os.path.exists(OUT):
            print("no committed PLAN_DIGESTS.json; run without --check first")
            return 1
        with open(OUT) as f:
            committed = json.load(f)
        committed_q = {k: v for k, v in committed.items() if not k.startswith("__")}
        changed = sorted(
            n
            for n in fresh
            if n in committed_q and committed_q[n] != fresh[n]
        )
        added = sorted(set(fresh) - set(committed_q))
        removed = sorted(set(committed_q) - set(fresh))
        old_fx = committed.get("__fixtures__") or {}
        new_fx = fixture_fingerprints()
        drifted = sorted(
            t for t in set(old_fx) | set(new_fx) if old_fx.get(t) != new_fx.get(t)
        )
        if drifted and old_fx:
            print(
                "FIXTURE SCHEMA DRIFT (digest changes may be environmental, "
                f"not code): {', '.join(drifted)}"
            )
        for label, names in (
            ("PLAN CHANGED", changed),
            ("NEW QUERY", added),
            ("REMOVED", removed),
        ):
            if names:
                print(f"{label} ({len(names)}):")
                for n in names:
                    print(f"    {n}")
        if not (changed or added or removed):
            print("all plan digests match the committed file")
        return 1 if (changed or added or removed or bad) else 0
    record = dict(sorted(fresh.items()))
    record["__fixtures__"] = fixture_fingerprints()
    with open(OUT, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}: {len(fresh)} digests, {len(bad)} errors")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
