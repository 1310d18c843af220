"""SparkSession factory with scale-oriented defaults.

Local sessions run one thread per core this process may use
(``HOST_CORES``), but every knob here is chosen for the 100 TB /
1000-executor target:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast-join demotion/promotion).
- ``spark.sql.shuffle.partitions`` equals the session's core count; on a
  real cluster AQE's coalescing makes the initial number a ceiling, not a
  tune. Stateful streaming queries keep the partition count recorded in
  their checkpoint, so a new count applies only to new checkpoints.
- Arrow on for every pandas interchange (Pandas UDFs, ``mapInPandas``).
- Session timezone pinned UTC — the reference's historical table is
  tz-aware UTC (generate_historical_data.py:38-40) and its stream carries
  Unix seconds (IoTSimulator.java:182); UTC keeps both unambiguous.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cores this process may run on (what ``nproc`` prints): the one
# parallelism setting every session is sized from.
HOST_CORES = len(os.sched_getaffinity(0))

_BLAS_THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def spark_confs(cores: int) -> dict[str, str]:
    """Engine configuration for a session with ``cores`` task slots,
    applied to the builder or an existing session."""
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Parquet scans: vectorized reader + pushdown are defaults; keep
        # files per partition large enough that sf0.1 doesn't over-split.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.parquet.filterPushdown": "true",
        # events.parquet carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long (nanos) and convert in the loader.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Let custom Python data sources (sources/pysource.py) receive
        # pushed filters; off by default in Spark 4.1.
        "spark.sql.python.filterPushdown.enabled": "true",
        # Whole-stage-codegen CLASS cache (static conf — applies only at
        # session build; apply_confs() skips it on a running session).
        # The default 100-entry LRU is smaller than one pass over this
        # engine's catalog: the 23 headline plan families alone generate
        # ~340 codegen units, so at the default every pass RE-COMPILED
        # essentially every generated class (measured: 338 fresh Janino
        # compilations per bench pass, ~3.2 s of compile, plus the JIT
        # warm-up the fresh classes re-pay) — the "in-bench vs isolated
        # inflation" of r16. At 5000 entries passes 2+ compile nothing
        # (measured 0) and the steady-state bench pass dropped ~35%
        # (18.5-21.5 s -> 12.4 s). Scale-neutral: the cache holds
        # generated BYTECODE keyed by source text (never data or
        # results), costs ~10 KB/entry, and any production driver or
        # executor serving repeated plan families wants the same.
        "spark.sql.codegen.cache.maxEntries": "5000",
        # Single-threaded BLAS in Python workers (r15): Spark TASKS are
        # the parallelism unit — numpy inside a pandas UDF otherwise
        # spawns an all-core OpenBLAS/OMP pool PER concurrent worker
        # (measured: the 16-way parallel PQ subspace fit inflated 6 s of
        # math to ~300 s of thread-thrash on local[32]). Same rule any
        # multi-core executor needs in production.
        **{f"spark.executorEnv.{var}": "1" for var in _BLAS_THREAD_VARS},
        # No Python call-site capture. PySpark wraps every Column method
        # and F.* function to record its caller in the JVM, about 5 py4j
        # round trips per call. A warm build of the 23 headline queries
        # (4-core host) made 11,544 round trips and took 0.87-0.94 s
        # with it on, 4,564 and 0.59-0.67 s with it off. What is lost:
        # an analysis error no longer carries the Python "DataFrame
        # query context" (file:line of the failing call); the error
        # class and message are unchanged, and no test asserts on that
        # context. It is a static conf, so it applies only through
        # get_spark's builder: apply_confs cannot set it on a foreign
        # session, and a session built without it keeps paying. PySpark
        # also caches the flag for the whole process at the first
        # wrapped call, so a later session cannot switch it either way.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }


def streaming_state_confs() -> dict[str, str]:
    """Opt-in state-store configuration for LARGE streaming state.

    The default HDFS-backed state store keeps every key in executor
    heap — fine for the parity pipeline (one machine ≈ one key), fatal
    for 100 TB-scale keyed state (billions of dedup keys / sessions).
    RocksDB spills state to local disk with incremental checkpointing;
    changelog checkpointing ships only per-batch deltas. Apply via
    ``spark.conf.set`` before starting the stateful query (runtime
    settable), or merge into the builder."""
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }


def get_spark(
    app_name: str = "rtpmdp-engine", cpus: int | str | None = None
) -> SparkSession:
    """Build (or fetch) the tuned ``local[cpus]`` session; ``cpus``
    defaults to ``HOST_CORES``.

    The driver may hand us its own session; query functions never call this —
    only tests and ``bench.py`` do. Like ``apply_confs``, it ships the
    package to executor Python workers (``_ship_package``).
    """
    cores = int(cpus or HOST_CORES)
    # Local-mode twin of the executorEnv BLAS caps in spark_confs():
    # python workers fork from the in-process JVM, which inherits THIS
    # process's env — executorEnv alone doesn't reach an already-running
    # local executor. Must be set before any worker imports numpy.
    for var in _BLAS_THREAD_VARS:
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in spark_confs(cores).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def apply_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to a session we didn't build
    (e.g. the driver's), sized to its own parallelism. Static confs
    (driver memory) are skipped."""
    for k, v in spark_confs(spark.sparkContext.defaultParallelism).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-UDF closures reference module functions, which cloudpickle
    serializes *by reference* — workers must import the module. A driver
    that put the repo on its own ``sys.path`` (not ``PYTHONPATH``) runs
    fine until the first UDF task, then workers raise
    ``ModuleNotFoundError``. Shipping a zip via ``addPyFile`` fixes this
    everywhere: local mode, a real cluster, or a driver running from any
    cwd. Idempotent: a zip already in the context's includes is not
    re-added, as ``addPyFile`` would append it to the includes and to
    ``sys.path`` once more on every call.
    """
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    if f"{pkg_name}.zip" in spark.sparkContext._python_includes:
        return
    zip_path = os.path.join(
        spark.sparkContext._temp_dir
        if hasattr(spark.sparkContext, "_temp_dir")
        else "/tmp",
        f"{pkg_name}.zip",
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this JVM
