"""The grouped-agg pandas UDF declares its kind through type hints,
Spark's supported form, not the deprecated ``PandasUDFType``."""

from __future__ import annotations

import warnings

from pyspark.util import PythonEvalType

from real_time_predictive_maintenance_data_pipeline_spark.operators.grouped import (
    grouped_median_udf,
)


def test_grouped_median_udf_is_grouped_agg_without_warning(spark):
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        med = grouped_median_udf()
    assert med.evalType == PythonEvalType.SQL_GROUPED_AGG_PANDAS_UDF == 202
