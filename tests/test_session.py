"""Session sizing: every session's shuffle partitions follow its own
core count, and no environment variable overrides the engine confs."""

from __future__ import annotations

from real_time_predictive_maintenance_data_pipeline_spark.session import (
    apply_confs,
    spark_confs,
)

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
