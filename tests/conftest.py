from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-minute end-to-end subprocess smoke"
    )


@pytest.fixture(scope="session")
def spark():
    from real_time_predictive_maintenance_data_pipeline_spark.session import get_spark

    s = get_spark("rtpmdp-tests")
    yield s
    s.stop()
