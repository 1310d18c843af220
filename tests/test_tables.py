"""Fixture-loader robustness across parquet physical-type drift.

The driver regenerates /root/testdata between rounds and the physical
type of ``events.ts`` has already flipped once: TIMESTAMP(NANOS) in
round 1 (readable only through the ``nanosAsLong`` legacy conf +
``load_table``'s DIV-1000 normalization), naive ``timestamp[us]``
(TIMESTAMP_NTZ under Spark 4) since round 2. Round 11 found the r9
plan-digest baseline invalidated by exactly this drift — every
events/documents/embeddings scanner's analyzed plan changed with zero
code edits. ``load_table`` must keep BOTH paths correct: whichever
physical type the next regeneration emits, downstream epoch arithmetic
has to land on the same microsecond values.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from real_time_predictive_maintenance_data_pipeline_spark.functions.timeutil import (
    epoch_us,
)
from real_time_predictive_maintenance_data_pipeline_spark.sources.tables import (
    load_table,
)

# Wall-clock instants with sub-microsecond detail in the nanos variant:
# truncation (not rounding) to micros is the DuckDB-parity contract.
_NS = [
    1_700_000_000_123_456_789,  # ...123456.789 us -> truncates to ...123456
    1_700_000_100_000_000_999,  # ns-only tail -> truncates to .000000
    1_700_000_200_999_999_001,  # near-roundup tail must NOT round up
]
_US_TRUNC = [ns // 1_000 for ns in _NS]


def _write_events(dirpath, ts_array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(table, f"{dirpath}/events.parquet")
    return str(dirpath)


def test_load_table_normalizes_nanos_and_micros_identically(spark, tmp_path):
    nanos_dir = tmp_path / "nanos"
    micros_dir = tmp_path / "micros"
    nanos_dir.mkdir()
    micros_dir.mkdir()
    _write_events(nanos_dir, pa.array(_NS, pa.timestamp("ns")))
    _write_events(micros_dir, pa.array(_US_TRUNC, pa.timestamp("us")))

    got = {}
    for label, d in (("nanos", nanos_dir), ("micros", micros_dir)):
        df = load_table(spark, str(d), "events")
        # whichever physical type arrived, the loader must hand
        # downstream queries a real timestamp column, never a raw long
        assert df.schema["ts"].dataType.typeName().startswith("timestamp"), (
            label,
            df.schema["ts"].dataType,
        )
        rows = (
            df.select("event_id", epoch_us("ts").alias("us"))
            .orderBy("event_id")
            .collect()
        )
        got[label] = [r.us for r in rows]

    assert got["nanos"] == got["micros"] == _US_TRUNC


def test_load_table_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    """The r16 schema memo caches INFERRED SCHEMAS per (path, mtime,
    size): repeated loads must skip footer inference (same DataFrame
    schema from the memo), and rewriting the file — the driver
    regenerates fixtures between rounds — must re-infer, never serve
    the stale schema."""
    import time as _time

    from real_time_predictive_maintenance_data_pipeline_spark.sources import (
        tables as TB,
    )

    d = tmp_path / "memo"
    d.mkdir()
    _write_events(d, pa.array(_US_TRUNC, pa.timestamp("us")))
    first = load_table(spark, str(d), "events")
    memo_size = len(TB._SCHEMA_MEMO)
    again = load_table(spark, str(d), "events")
    assert again.schema == first.schema
    assert len(TB._SCHEMA_MEMO) == memo_size  # served from the memo

    # rewrite the SAME path with a different physical type (the round-2
    # nanos -> micros drift in miniature, reversed); ensure a distinct
    # mtime even on coarse filesystem clocks
    _time.sleep(0.01)
    _write_events(d, pa.array(_NS, pa.timestamp("ns")))
    rewritten = load_table(spark, str(d), "events")
    # a stale memo hit would mis-read the nanos file through the micros
    # schema; the stat-keyed memo must re-infer and still normalize
    rows = (
        rewritten.select("event_id", epoch_us("ts").alias("us"))
        .orderBy("event_id")
        .collect()
    )
    assert [r.us for r in rows] == _US_TRUNC


def test_load_table_schema_memo_invalidates_on_dir_part_rewrite(spark, tmp_path):
    """Directory-layout hardening (r17, ADVICE r16): rewriting a part
    file IN PLACE does not change the directory's own mtime/size, so a
    memo keyed only on the directory stat would serve the stale schema.
    The key now folds every child's (name, mtime, size) in — the
    rewritten part must re-infer."""
    import time as _time

    d = tmp_path / "dirtbl"
    d.mkdir()
    tbl = d / "events.parquet"
    tbl.mkdir()  # the TABLE PATH is a directory of part files
    part_dir = str(tbl)

    def write_part(ts_array):
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        t = _pa.table(
            {
                "event_id": _pa.array([1, 2, 3], _pa.int64()),
                "ts": ts_array,
                "user_id": _pa.array([10, 11, 12], _pa.int64()),
                "event_type": _pa.array(["a", "b", "c"]),
                "value": _pa.array([1.0, 2.0, 3.0]),
                "props": _pa.array(["{}", "{}", "{}"]),
            }
        )
        _pq.write_table(t, f"{part_dir}/part-00000.parquet")

    write_part(pa.array(_US_TRUNC, pa.timestamp("us")))
    first = load_table(spark, str(d), "events")
    assert first.schema["ts"].dataType.typeName().startswith("timestamp")

    # in-place rewrite: same file name (no dir entry added/removed, so
    # the directory stat alone cannot see it), different physical type
    _time.sleep(0.01)
    write_part(pa.array(_NS, pa.timestamp("ns")))
    rewritten = load_table(spark, str(d), "events")
    rows = (
        rewritten.select("event_id", epoch_us("ts").alias("us"))
        .orderBy("event_id")
        .collect()
    )
    assert [r.us for r in rows] == _US_TRUNC


def test_load_table_schema_memo_sees_nested_hive_part_rewrite(spark, tmp_path):
    """A hive-partitioned table nests its part files under ``k=v/``
    directories. Rewriting such a part file in place changes neither
    the table directory nor any of its direct children, so the memo key
    must cover every file at any depth: the new schema is re-inferred."""
    import time as _time

    tbl = tmp_path / "region.parquet"
    part = tbl / "r_bucket=0"
    part.mkdir(parents=True)

    def write_part(cols):
        pq.write_table(pa.table(cols), str(part / "part-00000.parquet"))

    base = {
        "r_regionkey": pa.array([0, 1], pa.int64()),
        "r_name": pa.array(["AFRICA", "AMERICA"]),
    }
    write_part(base)
    first = load_table(spark, str(tmp_path), "region")
    assert sorted(first.columns) == ["r_bucket", "r_name", "r_regionkey"]

    _time.sleep(0.01)
    write_part({**base, "r_comment": pa.array(["x", "y"])})
    rewritten = load_table(spark, str(tmp_path), "region")
    assert sorted(rewritten.columns) == [
        "r_bucket",
        "r_comment",
        "r_name",
        "r_regionkey",
    ]
    assert sorted(r.r_comment for r in rewritten.collect()) == ["x", "y"]
