"""Benchmark harness (driver contract).

Runs the bench-tagged headline queries from the catalog at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is forced through the noop sink so the full plan executes
(count() alone lets Spark prune the compute we're trying to measure).

r17 additions (additive JSON fields only; the headline `value`/
`queries` methodology is unchanged): per-query build/exec split of the
same timed passes (`queries_build*`/`queries_exec*`) and an
exec-dominated multi-row-group tier (`queries_mrg_exec`) so core-count
scaling is visible despite the single-row-group sf fixtures.
"""

from __future__ import annotations

import json
import os
import sys
import time

_LOAD_START = -1.0

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries
from real_time_predictive_maintenance_data_pipeline_spark.session import get_spark


def warm_up(spark, sf_dir: str, queries) -> None:
    """Bring the session to steady state before timed ``noop_pass``es
    over ``queries`` at ``sf_dir``, so they measure the plans, not
    one-time costs, and end with an empty cache."""
    # Executor/codegen spin-up.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Warm each PLAN at the smallest scale factor: the generated code
    # for giant higher-order expression trees (minhash, jaccard verify)
    # JIT-compiles on first execution — a 3-4× one-time cost that would
    # otherwise be billed to whichever query runs first. Skipped when
    # the target itself is sf0.001.
    target = os.path.abspath(sf_dir)
    warm_dir = os.path.join(os.path.dirname(target), "sf0.001")
    if warm_dir != target and os.path.isdir(warm_dir):
        for name in sorted(queries):
            try:
                queries[name].spark(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warmup is best-effort; the timed run surfaces real errors
    if any(n.startswith("telemetry_") for n in queries):
        # train-once model cache: the scoring queries should time
        # vectorized inference, not RF training
        from real_time_predictive_maintenance_data_pipeline_spark.plans.telemetry import (
            _model,
        )

        _model(spark)
    # Pre-read the dataset so the timed passes measure the ENGINE, not
    # the host's page-cache state: a cold first-touch bills multi-second
    # disk reads to whichever query scans a table first (measured
    # 1.3-4.7x drift on plan-identical queries).
    for root, _, files in os.walk(sf_dir):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                while fh.read(8 << 20):
                    pass
    spark.catalog.clearCache()


def noop_pass(spark, sf_dir: str, queries) -> dict[str, tuple[float, float]]:
    """Run every query once, in name order, through the noop sink (so
    the full plan executes; count() alone lets Spark prune the compute
    being measured). Returns per-query (build_s, exec_s): plan
    construction plus Catalyst analysis on the driver, then the write.

    Queries tagged "caches" persist intermediates inside their plan
    (the cached partitions outlive the returned DataFrame); the cache
    is cleared after each of them so a pass doesn't accumulate executor
    storage memory."""
    out: dict[str, tuple[float, float]] = {}
    for name in sorted(queries):
        q = queries[name]
        t0 = time.perf_counter()
        df = q.spark(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[name] = (t1 - t0, time.perf_counter() - t1)
        if "caches" in q.tags:
            spark.catalog.clearCache()
    return out


def _mrg_tier(spark, sf_dir: str, queries) -> dict[str, float]:
    """Multi-row-group exec tier (see the call site): rewrite each
    fixture table with ~32 row groups, floor the scan split count at
    the core count, and time ONLY the noop exec (plans pre-built) for
    two passes, returning per-query minima."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    mrg_dir = tempfile.mkdtemp(prefix="bench_mrg_")
    try:
        for f in sorted(os.listdir(sf_dir)):
            if not f.endswith(".parquet"):
                continue
            src = os.path.join(sf_dir, f)
            if not os.path.isfile(src):
                continue
            t = pq.read_table(src)
            rg = max(1, t.num_rows // 32)
            pq.write_table(t, os.path.join(mrg_dir, f), row_group_size=rg)
        saved = {}
        tier_confs = {
            "spark.sql.files.minPartitionNum": str(
                spark.sparkContext.defaultParallelism
            ),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
        }
        for k, v in tier_confs.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        try:
            out: dict[str, float] = {}
            for _ in range(2):
                for name, (_, e) in noop_pass(spark, mrg_dir, queries).items():
                    e = round(e, 3)
                    out[name] = min(out.get(name, e), e)
            return out
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    finally:
        shutil.rmtree(mrg_dir, ignore_errors=True)


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    global _LOAD_START
    try:
        _LOAD_START = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        _LOAD_START = -1.0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("rtpmdp-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = {n: q for n, q in all_queries().items() if q.bench}

    warm_up(spark, sf_dir, queries)

    # Repeat the timed loop n>=3 times: the FIRST pass is the headline
    # (comparable to prior rounds, which timed a single pass); the
    # per-query MIN across passes is the quiet-machine floor that
    # separates environment drift (host page-cache drops, CPU/IO
    # throttling — measured 1.3-4.7x on plan-identical queries) from a
    # real plan regression. Override with SPARK_GRAFT_BENCH_REPEAT=1 for
    # a quick iteration loop.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")))
    timings: dict[str, float] = {}
    best: dict[str, float] = {}
    # Per-query build (plan construction + Catalyst analysis,
    # driver-side) vs exec (the noop write, cluster-side) split — r16
    # verdict: at sf0.1 ~40% of headline wall is plan build, so raw
    # per-query seconds can't show executor-side wins. The headline
    # timing is UNCHANGED (dt still covers build+exec of the same
    # pass); these are additive fields decomposing it.
    build_first: dict[str, float] = {}
    exec_first: dict[str, float] = {}
    build_best: dict[str, float] = {}
    exec_best: dict[str, float] = {}
    for i in range(repeat):
        for name, (b, e) in noop_pass(spark, sf_dir, queries).items():
            dt = round(b + e, 3)
            b, e = round(b, 3), round(e, 3)
            if i == 0:
                timings[name] = dt
                build_first[name] = b
                exec_first[name] = e
            best[name] = min(best.get(name, dt), dt)
            build_best[name] = min(build_best.get(name, b), b)
            exec_best[name] = min(exec_best.get(name, e), e)

    # Exec-dominated tier: the sf0.1 fixtures are single-row-group
    # parquet files, so scans can't split and the 8-vs-32-core scaling
    # block reads ~1 for every query (r16 verdict #1 — the bench tier
    # couldn't see executor parallelism at all). Rewrite the fixtures
    # with ~32 row groups into a per-run temp dir, drop the split
    # floor so scans actually parallelize, and time the noop exec of
    # two extra passes (min). Additive fields only; the headline
    # methodology above is untouched, the rewrite is derived from the
    # run's own inputs and deleted afterwards.
    mrg_exec: dict[str, float] = {}
    mrg_error = None
    try:
        mrg_exec = _mrg_tier(spark, sf_dir, queries)
    except Exception as exc:
        mrg_error = str(exc)

    total = round(sum(timings.values()), 3)
    # Host-load telemetry rides along so per-round triage (is an
    # inflated total environment or code? — the recurring r7/r12/r13
    # question) can read the answer off the recorded JSON instead of
    # re-deriving it from per-query deltas. load_1m_start is sampled
    # before the warmup, load_1m_end here; a loaded host shows >~2-3
    # on top of this process's own threads.
    try:
        load_end = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        load_end = -1.0
    total_best = round(sum(best.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_from_dir(sf_dir),
                "best_of": repeat,
                "value_best": total_best,
                "queries_best": best,
                # decomposition of the SAME timed passes (additive; the
                # headline `queries`/`queries_best` are unchanged)
                "queries_build": build_first,
                "queries_exec": exec_first,
                "queries_build_best": build_best,
                "queries_exec_best": exec_best,
                # exec-dominated tier: noop exec over a multi-row-group
                # rewrite of the same inputs (min of 2 passes); {} plus
                # mrg_exec_error if the tier failed — never breaks the
                # headline contract
                "queries_mrg_exec": mrg_exec,
                "value_mrg_exec": round(sum(mrg_exec.values()), 3),
                **({} if mrg_error is None else {"mrg_exec_error": mrg_error}),
                "host": {
                    "cpus": os.cpu_count(),
                    "load_1m_start": _LOAD_START,
                    "load_1m_end": load_end,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
