"""Session sizing: every session's shuffle partitions follow its own
core count, and no environment variable overrides the engine confs."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from real_time_predictive_maintenance_data_pipeline_spark.session import (
    _ship_package,
    apply_confs,
    spark_confs,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CALL_SITES = "spark.python.sql.dataFrameDebugging.enabled"

_BLAS_CAPS = (
    "spark.executorEnv.OMP_NUM_THREADS",
    "spark.executorEnv.OPENBLAS_NUM_THREADS",
    "spark.executorEnv.MKL_NUM_THREADS",
)


def test_spark_confs_sized_by_cores_with_blas_caps():
    confs = spark_confs(6)
    assert confs["spark.sql.shuffle.partitions"] == "6"
    # the caps belong to every session, not only the opt-in RocksDB bundle
    assert {k: confs.get(k) for k in _BLAS_CAPS} == dict.fromkeys(_BLAS_CAPS, "1")


def test_apply_confs_uses_the_session_parallelism(spark):
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        apply_confs(spark)
        assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(key, saved)


def test_spark_confs_ignore_the_retired_env_knobs(monkeypatch):
    """The SPARK_GRAFT_* session knobs are gone: setting them changes
    nothing."""
    for knob in ("CPUS", "SHUFFLE_PARTITIONS", "DRIVER_MEM"):
        monkeypatch.setenv(f"SPARK_GRAFT_{knob}", "7")
    assert spark_confs(4)["spark.sql.shuffle.partitions"] == "4"


def test_ship_package_adds_its_zip_once(spark):
    """Every ``apply_confs`` ships the package; only the first adds the
    zip, so neither the context's includes nor ``sys.path`` grow."""
    includes = spark.sparkContext._python_includes
    _ship_package(spark)
    path_len = len(sys.path)
    _ship_package(spark)
    _ship_package(spark)
    zips = [n for n in includes if n.startswith("real_time_predictive_maintenance")]
    assert len(zips) == 1, includes
    assert len(sys.path) == path_len


def test_call_site_capture_is_off(spark):
    """Python call-site capture costs ~5 py4j round trips per Column
    call; the engine turns it off in the builder, where the static conf
    takes effect."""
    assert spark_confs(4)[_CALL_SITES] == "false"
    assert spark.conf.get(_CALL_SITES) == "false"


def test_get_spark_ships_the_package_to_workers(tmp_path):
    """A script that put the repo on ``sys.path`` only (not on
    ``PYTHONPATH``) and runs from another directory can still run a
    pandas UDF whose closure references a package function: workers
    import the package from the zip ``get_spark`` ships."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from real_time_predictive_maintenance_data_pipeline_spark.session import get_spark
        from real_time_predictive_maintenance_data_pipeline_spark.sources.tables import table_path

        spark = get_spark("ship-package-test", cpus=1)

        @pandas_udf("string")
        def path_of(names: pd.Series) -> pd.Series:
            return names.map(lambda n: table_path("sf", n))

        rows = spark.createDataFrame([("orders",), ("part",)], "name string")
        print(sorted(r.p for r in rows.select(path_of("name").alias("p")).collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "['sf/orders.parquet', 'sf/part.parquet']"
