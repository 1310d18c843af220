"""tools/plan_digest.py — the mechanical "did this change alter this
query's plan?" detector (a refactor shows it left every plan unchanged
with ``--check``). These tests pin what makes the digest trustworthy:
insensitivity to everything Catalyst regenerates per session,
sensitivity to real plan edits, and full catalog coverage of the
committed PLAN_DIGESTS.json.
"""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_digest import EAGER_SENTINEL, OUT, digest  # noqa: E402


def _build(spark):
    return (
        spark.range(100)
        .withColumn("x", F.col("id") * 2)
        .groupBy((F.col("id") % 10).alias("g"))
        .agg(F.sum("x").alias("sx"))
    )


def test_digest_survives_exprid_drift(spark):
    """The same authored query must hash identically no matter how many
    expression ids the session allocated in between — exprIds are the
    per-session noise that made raw plan strings useless as change
    detectors."""
    a = digest(_build(spark))
    # burn a few hundred exprIds so the rebuild numbers differently
    for _ in range(3):
        spark.range(10).select(
            *[(F.col("id") + i).alias(f"c{i}") for i in range(20)]
        ).collect()
    assert digest(_build(spark)) == a


def test_digest_survives_lambda_ordinal_drift(spark):
    """Higher-order-function lambda variables render with a PER-SESSION
    ordinal (x_10#917) that counts every lambda constructed earlier in
    the session — i.e. pure registration order. Found in r11: reordering
    the catalog flipped 36 transform/aggregate digests
    with zero plan changes. The same authored lambda query must hash
    identically after other lambda-using plans are constructed."""

    def build():
        return spark.range(10).select(
            F.aggregate(
                F.sequence(F.lit(1), F.lit(3)),
                F.lit(0.0),
                lambda acc, x: acc + x * 2.0,
            ).alias("s")
        )

    a = digest(build())
    # burn lambda ordinals: construct unrelated lambda-using plans
    for _ in range(3):
        spark.range(5).select(
            F.transform(F.sequence(F.lit(1), F.lit(2)), lambda v: v + 1)
        ).collect()
    assert digest(build()) == a


def test_digest_sensitive_to_real_plan_change(spark):
    """An actual semantic edit (extra filter, changed constant, new
    column) must change the digest — otherwise ``--check`` would never
    see edited operators."""
    base = digest(_build(spark))
    assert digest(_build(spark).filter(F.col("sx") > 0)) != base
    assert (
        digest(
            spark.range(100)
            .withColumn("x", F.col("id") * 3)  # 2 -> 3
            .groupBy((F.col("id") % 10).alias("g"))
            .agg(F.sum("x").alias("sx"))
        )
        != base
    )


def test_digest_ignores_distinct_rewrite_gid_order(spark):
    """count(DISTINCT a), count(DISTINCT b) plans: the OPTIMIZER assigns
    expand-gids in expression-hash order, which permutes run to run —
    the digest hashes the ANALYZED plan precisely so this Catalyst
    nondeterminism (observed flapping rel_count_distinct_multi) cannot
    leak into change detection."""

    def q():
        return spark.range(100).select(
            F.count_distinct(F.col("id") % 7).alias("a"),
            F.count_distinct(F.col("id") % 11).alias("b"),
            F.count_distinct(F.col("id") % 13).alias("c"),
        )

    d = digest(q())
    for _ in range(3):
        spark.range(5).select((F.col("id") * 2).alias("z")).collect()
        assert digest(q()) == d


def test_committed_digests_cover_whole_catalog():
    """PLAN_DIGESTS.json must carry one entry per registered query —
    eager-io ones as the sentinel, everything else as a hash; a missing
    name means the file predates a catalog addition and must be
    regenerated (python tools/plan_digest.py)."""
    from real_time_predictive_maintenance_data_pipeline_spark.plans import (
        all_queries,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.plans.registry import (
        _REGISTRY,
    )

    if not os.path.exists(OUT):
        pytest.fail("PLAN_DIGESTS.json not committed — run tools/plan_digest.py")
    with open(OUT) as f:
        digests = json.load(f)
    names = all_queries()
    missing = [n for n in names if n not in digests]
    assert not missing, f"regenerate PLAN_DIGESTS.json: missing {missing[:5]}"
    stale = [n for n in digests if n not in names and not n.startswith("__")]
    assert not stale, f"regenerate PLAN_DIGESTS.json: removed queries {stale[:5]}"
    # the r11 attribution record: fixture schema fingerprints ride along
    # under the reserved __fixtures__ key so --check can tell testdata
    # regeneration apart from code-driven plan changes
    from tools.plan_digest import fixture_fingerprints

    assert digests.get("__fixtures__") == fixture_fingerprints()
    for n in names:
        if "eager-io" in _REGISTRY[n].tags:
            assert digests[n] == EAGER_SENTINEL, n
        else:
            assert len(digests[n]) == 16 and not digests[n].startswith("ERROR"), n
