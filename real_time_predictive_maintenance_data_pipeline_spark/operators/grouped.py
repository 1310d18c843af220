"""Grouped-map custom operator: per-group least-squares trend.

Demonstrates the ``applyInPandas`` (grouped-map) surface — the engine's
escape hatch when per-group logic genuinely needs imperative code
(here: numpy lstsq per group). Kept oracle-checkable on purpose: the
slope/intercept of ordinary least squares matches ANSI
``regr_slope``/``regr_intercept``, so the driver's DuckDB harness
verifies a Pandas-UDF operator end-to-end.

Scale notes: one shuffle on the group key; each group must fit in one
task's memory (pandas materializes per group) — for billions-of-rows
groups, switch to the streaming aggregation form (sufficient statistics
via built-in ``regr_*`` functions, which Spark also has: this operator
exists to exercise the grouped-map path, not because OLS needs it).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

TREND_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("slope", DoubleType()),
        StructField("intercept", DoubleType()),
    ]
)


def per_group_trend(df: DataFrame, group_col: str = "event_type", x_col: str = "x", y_col: str = "y") -> DataFrame:
    """OLS y ~ x per group via grouped-map applyInPandas.

    Input must carry (group_col, x_col, y_col); emits one row per group
    with (n, slope, intercept), 6-dp stable.
    """

    def fit(pdf):
        import numpy as np
        import pandas as pd

        x = pdf[x_col].to_numpy(dtype="float64")
        y = pdf[y_col].to_numpy(dtype="float64")
        xm, ym = x.mean(), y.mean()
        den = ((x - xm) ** 2).sum()
        slope = float(((x - xm) * (y - ym)).sum() / den) if den else float("nan")
        intercept = ym - slope * xm
        return pd.DataFrame(
            {
                "event_type": [pdf[group_col].iloc[0]],
                "n": [len(pdf)],
                "slope": [slope],
                "intercept": [intercept],
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, TREND_SCHEMA)


def grouped_median_udf():
    """GROUPED_AGG pandas_udf: exact median per group (Arrow-batched).

    Selection-based (no floating summation), so the result is
    order-independent and bit-stable — safe to oracle-check. Scale
    caveat, stated plainly: a grouped-agg pandas UDF materializes each
    group's column in executor memory; at 100 TB group cardinality use
    ``approx_percentile(0.5)`` (mergeable sketch) instead and keep this
    surface for moderate-sized groups that need exact or bespoke math.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def median_udf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    return median_udf
