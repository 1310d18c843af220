from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-minute end-to-end subprocess smoke"
    )


@pytest.fixture(scope="session")
def spark():
    from real_time_predictive_maintenance_data_pipeline_spark.session import get_spark

    # local[8] is the measured sweet spot (r16 suite diet): a local[16]
    # session made the stateful-streaming tests ~2-4x SLOWER (more
    # state/shuffle partitions per micro-batch = more task overhead on
    # tiny data) and did not speed the catalog walks (compute-bound on
    # their poisoned fixtures), full-suite 32:47 vs ~29 at local[8].
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("rtpmdp-tests")
    yield s
    s.stop()
