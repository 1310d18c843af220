"""``catalog`` workload: the ``bench=True`` catalog queries on the pinned
sf0.01 fixtures, one client, each query built and then executed through
the noop sink. The seed permutes query order in every pass."""

from __future__ import annotations

import os
import sys
import time

from common import (
    COUNTERS,
    FIXTURES,
    drain_listener,
    group_counters,
    noop,
    set_job_group,
    start_session,
)
from measure import Tracer, median, pass_order

SF = os.path.join(FIXTURES, "sf0.01")
MODULES = ("relational", "llm", "telemetry")
#: Untimed passes after the output check. The first two noop passes
#: after the check vary by up to 40% from run to run while the JIT
#: compiles; the third holds within a few percent.
WARM_PASSES = 2
#: ``dedup_minhash_lsh`` has no exact oracle; its row count on the pinned
#: fixtures is recorded here.
MINHASH_ROWS = 8_267


def _module(q) -> str:
    return q.spark.__module__.rsplit(".", 1)[1]


def _check_score(spark, df) -> None:
    """Generator classes are separable (normal 65-70 °C, anomaly 80-85 °C),
    so every anomaly row must be predicted as one."""
    from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
        stream_telemetry_batch,
    )

    counts = {r["prediction"]: r["n"] for r in df.collect()}
    rows = stream_telemetry_batch(spark, n=500_000)
    hot = rows.filter(rows.temperature >= 75).count()
    if counts.get(1, 0) != hot or sum(counts.values()) != 500_000:
        raise ValueError(f"predicted {counts}, generator anomalies {hot}")


def check_outputs(spark, queries) -> list[str]:
    """One pass over every query that checks its output; returns the
    names that were wrong or raised. Oracled queries are compared with
    their DuckDB ``oracle_sql`` by the test suite's own comparison."""
    from tests.oracle_harness import compare, duck_connection

    con = duck_connection(SF)
    bad = []
    for name in sorted(queries):
        q = queries[name]
        try:
            df = q.spark(spark, SF)
            if q.oracle:
                compare(df, con, q.oracle)
            elif name == "telemetry_score_500k":
                _check_score(spark, df)
            elif name == "dedup_minhash_lsh":
                n = df.count()
                if n != MINHASH_ROWS:
                    raise ValueError(f"{n} rows, recorded {MINHASH_ROWS}")
            else:
                raise ValueError("bench query without an output check")
        except Exception as exc:  # a wrong or failing query is a failed operation
            print(f"check failed: {name}: {exc!r}"[:2000], file=sys.stderr)
            bad.append(name)
        finally:
            if "caches" in q.tags:
                spark.catalog.clearCache()
    con.close()
    return bad


def _preread(path: str) -> None:
    """Pull the fixtures into the page cache before timing."""
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                while fh.read(8 << 20):
                    pass


def _pass(spark, queries, order, tracer, group: str | None, split: dict) -> list[str]:
    """Build and execute each query in ``order``; record build and exec
    seconds per query in ``split``; return the names that raised. With
    ``group`` set, each query runs under job group ``<name>#<group>``."""
    failed = []
    for name in order:
        q = queries[name]
        try:
            if group is not None:
                set_job_group(spark, f"{name}#{group}")
            b0 = time.perf_counter()
            with tracer.span(f"catalog.{name}.build"):
                df = q.spark(spark, SF)
            b1 = time.perf_counter()
            with tracer.span(f"catalog.{name}.exec"):
                noop(df)
            b2 = time.perf_counter()
            split.setdefault(f"catalog.{name}.build_s", []).append(b1 - b0)
            split.setdefault(f"catalog.{name}.exec_s", []).append(b2 - b1)
        except Exception as exc:
            print(f"query failed: {name}: {exc!r}"[:2000], file=sys.stderr)
            failed.append(name)
        finally:
            if "caches" in q.tags:
                spark.catalog.clearCache()
    if group is not None:
        set_job_group(spark, None)
    return failed


def _pass_counters(spark, queries, group: str) -> dict[str, int]:
    """Status-store counters of one traced pass, summed per plans module."""
    drain_listener(spark)
    totals = {f"plans.{m}.{c}": 0 for m in MODULES for c in COUNTERS}
    for name, q in queries.items():
        got = group_counters(spark, f"{name}#{group}")
        for c in COUNTERS:
            totals[f"plans.{_module(q)}.{c}"] += got[c]
    return totals


def run(seed: int, seconds: float, tracer) -> dict:
    t0 = time.perf_counter()
    spark = start_session(tracer)
    from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries
    from real_time_predictive_maintenance_data_pipeline_spark.plans.telemetry import (
        _model,
    )

    queries = {n: q for n, q in all_queries().items() if q.bench}
    names = list(queries)
    with tracer.span("ml.anomaly.train"):
        _model(spark)  # the process-wide model telemetry_score_500k scores with
    with tracer.span("setup.preread"):
        _preread(SF)
    with tracer.span("setup.check"):
        failures = check_outputs(spark, queries)
    with tracer.span("setup.warm"):
        for i in range(WARM_PASSES):
            failures += _pass(spark, queries, pass_order(names, seed, -1 - i), tracer, None, {})
    attempted = (1 + WARM_PASSES) * len(queries)
    setup_s = time.perf_counter() - t0

    # A traced run alternates untraced and traced passes as U T T U, so
    # the fall of pass times while the JIT warms cancels out of the
    # tracing overhead; its per-layer numbers come from the traced passes.
    off = Tracer(enabled=False)
    pass_s: list[float] = []
    traced_s: list[float] = []
    split: dict[str, list[float]] = {}
    counters: dict[str, list[int]] = {}
    min_passes = 4 if tracer.enabled else 1
    start = time.perf_counter()
    while len(pass_s) + len(traced_s) < min_passes or time.perf_counter() - start < seconds:
        index = len(pass_s) + len(traced_s)
        traced = tracer.enabled and index % 4 in (1, 2)
        order = pass_order(names, seed, index)
        p0 = time.perf_counter()
        if traced:
            with tracer.span("catalog.pass"):
                failures += _pass(spark, queries, order, tracer, str(index), split)
        else:
            failures += _pass(spark, queries, order, off, None, {})
        (traced_s if traced else pass_s).append(time.perf_counter() - p0)
        attempted += len(queries)
        if traced:
            for k, v in _pass_counters(spark, queries, str(index)).items():
                counters.setdefault(k, []).append(v)

    layers: dict[str, float] = {}
    if tracer.enabled:
        layers = {k: median(v) for k, v in split.items()}
        layers.update({k: median(v) for k, v in counters.items()})
        for m in MODULES:
            for part in ("build_s", "exec_s"):
                layers[f"plans.{m}.{part}"] = sum(
                    layers[f"catalog.{n}.{part}"] for n in names if _module(queries[n]) == m
                )
        layers["plans.build_s"] = sum(layers[f"plans.{m}.build_s"] for m in MODULES)
        layers["trace.overhead_ms"] = 1000.0 * (median(traced_s) - median(pass_s))
        layers["sources.tables.scan_s"] = _scan_tables(spark, tracer)

    report = {"pass_s": median(pass_s), "pass_wall_s": pass_s}
    if tracer.enabled:
        report["traced_pass_wall_s"] = traced_s
    return {
        "setup_s": setup_s,
        "op_ms": [1000.0 * s for s in pass_s],
        "attempted": attempted,
        "failed": len(failures),
        "layers": layers,
        "report": report,
    }


def _scan_tables(spark, tracer) -> float:
    """Noop scan of every fixture table: the I/O floor of a pass."""
    from real_time_predictive_maintenance_data_pipeline_spark.sources.tables import (
        TABLES,
        load_table,
    )

    t0 = time.perf_counter()
    with tracer.span("sources.tables.scan"):
        for t in TABLES:
            noop(load_table(spark, SF, t))
    return time.perf_counter() - t0
