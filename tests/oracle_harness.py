"""Local mirror of the driver's DuckDB-oracle comparison so oracle
drift is caught before the driver runs (row count + column names +
order-insensitive value comparison).

Values are canonicalized (floats to their exact IEEE-754 bytes,
timestamps/dates to ISO strings, arrays to tuples) then compared as
sorted multisets — a stricter check than a hash because mismatches
show diffs.
"""

from __future__ import annotations

import datetime as _dt
import math
import struct
from typing import Any

import duckdb

from real_time_predictive_maintenance_data_pipeline_spark.sources.tables import (
    TABLES,
    table_path,
)


def _canon(v: Any) -> Any:
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Compare the exact IEEE-754 bytes, not a 6-dp round: the driver
        # hash is BYTE-sensitive, so a 2-ulp partial-agg-order divergence
        # in a raw-emitted double (the r5 `rel_cuped_adjustment` finding)
        # or a -0.0/0.0 sign flip (the r04 `doc_dsir_importance` fail)
        # must red-row the mirror too. Rounded-on-both-sides columns stay
        # green under this: both engines round a bit-identical input to
        # the bit-identical nearest double off the tie points.
        return ("f64", struct.pack("<d", v).hex())
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def canonical_multiset(df) -> list[tuple]:
    """``df``'s rows as a sorted multiset of ``_canon`` tuples, columns
    in case-insensitive name order: two results are equal as multisets
    iff these lists are equal (floats compared by exact IEEE-754 bytes)."""
    cols = df.columns
    idx = [cols.index(c) for c in sorted(cols, key=str.lower)]
    rows = [tuple(_canon(tuple(r)[i]) for i in idx) for r in df.collect()]
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


def first_diff(a: list[tuple], b: list[tuple]) -> str:
    """The first difference between two ``canonical_multiset`` lists."""
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    for ra, rb in zip(a, b):
        if ra != rb:
            return f"{ra!r} vs {rb!r}"
    return "?"


def layout_audited(q) -> bool:
    """Whether catalog entry ``q`` belongs in the layout-determinism
    audit (pristine vs shuffled fixtures): every oracled query except
    the telemetry eager-io entries. Those generate their own seeded/wire
    input and never read sf_dir, so the comparison would diff two
    independent GENERATION runs (and for the MQTT entry two wire
    sessions, where QoS-1 redelivery is at-least-once by contract), not
    two layouts. Their parity gate is the landed-bytes oracle. The src_*
    eager-io roundtrips DO read the fixtures and stay in scope."""
    return bool(q.oracle) and not ("eager-io" in q.tags and "telemetry" in q.tags)


# The driver's value hash is computed over pandas frames and is
# DTYPE-SENSITIVE: equal values in an int64 vs a float64 column hash
# differently (r03 `rel_agg_bool_bit`: DuckDB count_if returns HUGEINT,
# pandas materializes it float64, Spark emits int64 — values identical,
# hash red). `_canon` deliberately compares 1996 == 1996.0 as equal, so
# this drift is invisible to the value comparison; catch it by
# comparing the pandas dtype *class* (int / float / bool) per column.
_KIND_CLASS = {"i": "int", "u": "int", "b": "bool", "f": "float"}


def _check_dtype_kinds(spark_cols, spark_rows, con, sql) -> None:
    import pandas as pd

    # pd.DataFrame over collected Row tuples mirrors toPandas for the
    # numeric kinds: pure-int -> int64, int-with-null -> float64 (same
    # promotion toPandas applies), bool -> bool, float -> float64.
    spark_pdf = pd.DataFrame(spark_rows, columns=spark_cols)
    duck_pdf = con.execute(sql).df()
    duck_kinds = {c.lower(): s.dtype.kind for c, s in duck_pdf.items()}
    drift = []
    for c, s in spark_pdf.items():
        sk = _KIND_CLASS.get(s.dtype.kind)
        dk = _KIND_CLASS.get(duck_kinds.get(c.lower(), ""))
        if sk and dk and sk != dk:
            drift.append((c, f"spark={sk}", f"duck={dk}"))
    assert not drift, (
        f"numeric dtype-class drift (driver hash is dtype-sensitive): {drift}; "
        "cast the DuckDB side (HUGEINT aggs -> CAST(... AS BIGINT)) or align "
        "the Spark type"
    )


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    """Assert spark result == duckdb result (order-insensitive)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    # The driver canonicalizes via pandas sort_values, which CANNOT factorize
    # array/map/struct cells (round-1 shipped two red rows this way: the local
    # tuple-conversion masked it). Mirror the driver's limitation: oracled
    # queries must emit flat columns — serialize arrays with array_join/to_json.
    complex_cols = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"oracled query emits complex-typed columns {complex_cols}; the "
        "driver's hash canonicalization crashes on these — serialize with "
        "array_join/to_json on both sides"
    )

    duck = con.execute(sql)
    duck_cols = [d[0] for d in duck.description]
    duck_rows = duck.fetchall()

    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"column mismatch: spark={spark_cols} duck={duck_cols}"

    # Dtype-class drift first: with byte-strict float canonicalization an
    # int64-vs-float64 column would otherwise surface as an opaque value
    # mismatch; this check names the column and the fix.
    _check_dtype_kinds(spark_cols, spark_rows, con, sql)

    # Reorder both to sorted column order by name.
    s_idx = [spark_cols.index(c) for c in sorted(spark_cols, key=str.lower)]
    d_idx = [duck_cols.index(c) for c in sorted(duck_cols, key=str.lower)]
    s_set = sorted(
        (tuple(_canon(r[i]) for i in s_idx) for r in spark_rows),
        key=lambda t: tuple(str(x) for x in t),
    )
    d_set = sorted(
        (tuple(_canon(r[i]) for i in d_idx) for r in duck_rows),
        key=lambda t: tuple(str(x) for x in t),
    )
    assert len(s_set) == len(d_set), f"row count: spark={len(s_set)} duck={len(d_set)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_set, d_set)) if a != b
    ]
    assert not mismatches, f"value mismatch (first 5): {mismatches[:5]}"
