"""bench.py's shared timing protocol (``warm_up`` + ``noop_pass``), which
tools/scaling_report.py runs too. A fake session records every call,
so these tests need no Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import noop_pass, warm_up  # noqa: E402
from real_time_predictive_maintenance_data_pipeline_spark.plans.registry import (  # noqa: E402
    Query,
)


class _Frame:
    """DataFrame stand-in: ``df.write.format(..).mode(..).save()``."""

    def __init__(self, log, name):
        self.write = self
        self._log, self._name = log, name

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        self._log.append(("run", self._name))


class _Session:
    """Just enough of a SparkSession for the protocol."""

    def __init__(self):
        self.log = []
        self.catalog = self

    def clearCache(self):
        self.log.append("clearCache")

    def range(self, _):
        return self

    def selectExpr(self, *_):
        return self

    def collect(self):
        return []


def _queries(spark, tagged):
    def make(name, tags):
        def build(_spark, sf_dir):
            spark.log.append(("build", name, sf_dir))
            return _Frame(spark.log, name)

        return Query(name=name, spark=build, oracle=None, tags=tags)

    return {
        n: make(n, ("caches",) if n in tagged else ())
        for n in ("q_b", "q_a", "q_d", "q_c")
    }


def test_noop_pass_clears_cache_after_caches_tagged_queries_only():
    spark = _Session()
    qs = _queries(spark, tagged={"q_b", "q_d"})
    times = noop_pass(spark, "/data/sf0.1", qs)
    assert spark.log == [
        ("build", "q_a", "/data/sf0.1"),
        ("run", "q_a"),
        ("build", "q_b", "/data/sf0.1"),
        ("run", "q_b"),
        "clearCache",
        ("build", "q_c", "/data/sf0.1"),
        ("run", "q_c"),
        ("build", "q_d", "/data/sf0.1"),
        ("run", "q_d"),
        "clearCache",
    ]
    assert list(times) == ["q_a", "q_b", "q_c", "q_d"]
    assert all(b >= 0 and e >= 0 for b, e in times.values())


def _fixture_dirs(tmp_path):
    for sf in ("sf0.001", "sf0.01"):
        (tmp_path / sf).mkdir()
        (tmp_path / sf / "t.parquet").write_bytes(b"x" * 64)
    return str(tmp_path / "sf0.001"), str(tmp_path / "sf0.01")


def test_warm_up_plans_at_sf0001_for_a_larger_target(tmp_path):
    warm_dir, target = _fixture_dirs(tmp_path)
    spark = _Session()
    warm_up(spark, target, _queries(spark, tagged=set()))
    builds = [e for e in spark.log if e[0] == "build"]
    assert builds == [("build", n, warm_dir) for n in ("q_a", "q_b", "q_c", "q_d")]
    assert spark.log[-1] == "clearCache"


def test_warm_up_skips_plan_warm_when_target_is_sf0001(tmp_path):
    warm_dir, _ = _fixture_dirs(tmp_path)
    for target in (warm_dir, warm_dir + "/"):
        spark = _Session()
        warm_up(spark, target, _queries(spark, tagged=set()))
        assert spark.log == ["clearCache"]
