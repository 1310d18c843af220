"""Streaming tests (SURVEY §5.2 #5): memory-sink checks for the
simulator source, the parse/quarantine split, the scored-alert stream,
the gzip partitioned lake sink, and watermarked stateful ops.

File-source tests drain a fixed directory with ``availableNow`` — fully
deterministic. The rate-source test polls a live memory sink briefly.
"""

from __future__ import annotations

import glob
import gzip
import json
import time

import pytest
from pyspark.sql import functions as F

from real_time_predictive_maintenance_data_pipeline_spark.ml.anomaly import train
from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
    historical_telemetry,
    stream_telemetry_batch,
)
from real_time_predictive_maintenance_data_pipeline_spark.streaming import (
    dedup_stream,
    lake_sink,
    parse_telemetry,
    quarantine_sink,
    quarantine_split,
    scored_alert_stream,
    telemetry_stream,
    windowed_stats_stream,
)

N_GOOD = 200
BAD_LINES = ['{"not json', '{"machineId":"X","temperature":"oops"}', ""]


@pytest.fixture()
def payload_dir(spark, tmp_path):
    """A directory of wire-format JSON payload lines: N_GOOD valid rows
    (serialized from the seeded generator) + 3 malformed/invalid lines
    (the two drop paths of realtime_inference.py:101-114)."""
    from real_time_predictive_maintenance_data_pipeline_spark.functions.telemetry import (
        to_payload_json,
    )

    d = tmp_path / "in"
    d.mkdir()
    rows = (
        stream_telemetry_batch(spark, n=N_GOOD)
        .select(
            to_payload_json(
                F.col("machineId"),
                F.col("temperature"),
                F.col("vibration"),
                F.col("timestamp"),
            ).alias("v")
        )
        .collect()
    )
    (d / "good.json").write_text("\n".join(r.v for r in rows))
    (d / "bad.json").write_text("\n".join(BAD_LINES))
    return str(d)


def _read_lines(spark, path):
    return spark.readStream.text(path)  # column: value


def _drain_to_memory(df, name, timeout=600):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(t) returns False on timeout without raising; a
    # partially-drained sink then fails downstream counts confusingly
    # (and flakily, under full-suite load). Assert completion instead.
    assert q.awaitTermination(timeout), f"stream {name!r} still running after {timeout}s"
    return q


def test_parse_and_quarantine_split(spark, payload_dir, tmp_path):
    raw = _read_lines(spark, payload_dir)
    good, bad = quarantine_split(parse_telemetry(raw))
    _drain_to_memory(good, "t_good")
    _drain_to_memory(bad, "t_bad")
    good_rows = spark.table("t_good")
    assert good_rows.count() == N_GOOD
    assert good_rows.columns == ["machineId", "temperature", "vibration", "timestamp"]
    bad_rows = [r.value for r in spark.table("t_bad").collect()]
    # empty line parses to null struct but also comes through the text
    # source as... nothing; the two non-empty bad lines must quarantine.
    assert '{"not json' in bad_rows
    assert any("oops" in v for v in bad_rows)
    assert not any(v.startswith('{"machineId":"NC_') and "oops" not in v for v in bad_rows)


#: One payload per quarantine path, with the ``_reason`` each gets.
_T = 1700000000
POISON = [
    ("not json", "parse"),
    ("", "parse"),
    (None, "parse"),
    ('{"machineId":"P_MISS","vibration":1.3,"timestamp":%d}' % _T, "parse"),
    ('{"machineId":"P_HOT","temperature":"hot","vibration":1.3,"timestamp":%d}' % _T, "parse"),
    ('{"machineId":"P_INF","temperature":1e999,"vibration":1.3,"timestamp":%d}' % _T, "measure"),
    ('{"machineId":"P_NAN","temperature":68.0,"vibration":NaN,"timestamp":%d}' % _T, "measure"),
    ('{"machineId":"P_BIG","temperature":1e300,"vibration":1.3,"timestamp":%d}' % _T, "measure"),
    ('{"machineId":"P_NEG","temperature":68.0,"vibration":-5.0,"timestamp":%d}' % _T, "measure"),
]


@pytest.fixture(scope="module")
def poisoned(spark):
    """2,000 generator payloads plus ``POISON``, split into both legs."""
    from real_time_predictive_maintenance_data_pipeline_spark.functions.telemetry import (
        to_payload_json,
    )

    gen = stream_telemetry_batch(spark, n=2000)
    payload = gen.select(to_payload_json(*(F.col(c) for c in gen.columns)).alias("value"))
    raw = payload.union(spark.createDataFrame([(v,) for v, _ in POISON], "value string"))
    return quarantine_split(parse_telemetry(raw))


def test_split_legs_parse_each_payload_once(poisoned):
    """Catalyst must not push either leg's filter below the parse: each
    optimized plan carries one ``from_json`` (an unshielded projection
    inlines it a dozen times into the filter)."""
    for leg in poisoned:
        plan = leg._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json(") == 1, plan


def test_poison_reasons_at_parse_measure_boundary(poisoned):
    """Every poison payload lands in the bad leg with its reason; a
    parse failure carries the wire bytes verbatim, a measure failure
    its ``to_json`` re-serialization (a null payload, as ""); every
    generator row is good."""
    good, bad = poisoned
    assert good.count() == 2000
    assert not good.filter(F.col("machineId").startswith("P_")).count()
    got = sorted((r.value, r._reason) for r in bad.collect())
    want = sorted(
        (
            (v or "")
            if why == "parse"
            else v.replace("1e999", '"Infinity"')
            .replace("NaN", '"NaN"')
            .replace("1e300", "1.0E300"),
            why,
        )
        for v, why in POISON
    )
    assert got == want


def test_measure_quarantine_keeps_scoring_alive(spark, tmp_path):
    """r13 streaming lake-boundary leg (r12 verdict item 3): a payload
    that PARSES but carries a non-finite measure (JSON ``1e999`` →
    +Inf, ``NaN`` via Jackson's non-numeric numbers) or an implausible
    finite reading (1e300 would CAST_OVERFLOW downstream; negative
    vibration violates the O20 clip) must land in the quarantine sink —
    and the scoring stream over ``good`` must carry none of them. (MLlib
    rejects non-finite vectors, so before r13 these rows killed the
    micro-batch; the compiled scorer no longer can fail on them.)"""
    from real_time_predictive_maintenance_data_pipeline_spark.functions.telemetry import (
        to_payload_json,
    )

    d = tmp_path / "in"
    d.mkdir()
    rows = (
        stream_telemetry_batch(spark, n=50)
        .select(
            to_payload_json(
                F.col("machineId"),
                F.col("temperature"),
                F.col("vibration"),
                F.col("timestamp"),
            ).alias("v")
        )
        .collect()
    )
    t = 1700000000
    poison = [
        '{"machineId":"P_INF","temperature":1e999,"vibration":1.3,"timestamp":%d}' % t,
        '{"machineId":"P_NAN","temperature":68.0,"vibration":NaN,"timestamp":%d}' % t,
        '{"machineId":"P_BIG","temperature":1e300,"vibration":1.3,"timestamp":%d}' % t,
        '{"machineId":"P_NEG","temperature":68.0,"vibration":-5.0,"timestamp":%d}' % t,
    ]
    (d / "good.json").write_text("\n".join(r.v for r in rows))
    (d / "poison.json").write_text("\n".join(poison))

    model = train(historical_telemetry(spark))
    raw = _read_lines(spark, str(d))
    good, bad = quarantine_split(parse_telemetry(raw))

    # The scoring query consumes the SAME good stream the poison source
    # feeds. The compiled scorer cannot raise on a poison row, so a
    # leak past the split shows only as a P_* machineId among the
    # alerts — the assert below is the leak check.
    alerts = scored_alert_stream(model, good)
    _drain_to_memory(alerts, "t_mq_alerts")
    _drain_to_memory(bad, "t_mq_bad")

    assert spark.table("t_mq_alerts").count() == 50
    assert not [
        r.machineId
        for r in spark.table("t_mq_alerts").collect()
        if r.machineId.startswith("P_")
    ]
    bad_vals = [r.value for r in spark.table("t_mq_bad").collect()]
    assert len(bad_vals) == 4
    # Measure-invalid rows are re-serialized (to_json) — every poison
    # machineId must be present and addressable in the quarantine sink.
    for mid in ("P_INF", "P_NAN", "P_BIG", "P_NEG"):
        assert any(mid in v for v in bad_vals), mid
    # NaN may parse to NaN (non-finite leg) or null (parse leg)
    # depending on the JSON reader's non-numeric handling — either way
    # it must quarantine, which the count above already proves.


def test_scored_alert_stream(spark, payload_dir):
    model = train(historical_telemetry(spark))
    raw = _read_lines(spark, payload_dir)
    good, _ = quarantine_split(parse_telemetry(raw))
    alerts = scored_alert_stream(model, good)
    _drain_to_memory(alerts, "t_alerts")
    out = spark.table("t_alerts")
    assert out.count() == N_GOOD
    row = out.agg(
        F.sum((F.col("prediction") == 1).cast("int")).alias("n_alert"),
        F.sum(((F.col("temperature") > 80.0) != (F.col("prediction") == 1)).cast("int")).alias(
            "n_mismatch"
        ),
    ).first()
    assert row.n_mismatch == 0  # spikes alert, normals don't
    assert 0 < row.n_alert < N_GOOD
    sample = out.filter(F.col("prediction") == 1).select("alert").first().alert
    assert "[ALERT] ANOMALY DETECTED!" in sample and "\x1b[91m" in sample
    normal = out.filter(F.col("prediction") == 0).select("alert").first().alert
    assert "[NORMAL]" in normal and "mm/s" in normal


def test_lake_sink_gzip_partitioned(spark, payload_dir, tmp_path):
    """O11–O15: gzip JSON files under telemetry/year=/month=/day=/hour=,
    quarantined payloads under telemetry_errors/."""
    raw = _read_lines(spark, payload_dir)
    good, bad = quarantine_split(parse_telemetry(raw))
    lake = str(tmp_path / "lake")
    q1 = lake_sink(good, lake, str(tmp_path / "ck1"), available_now=True)
    q2 = quarantine_sink(bad, lake, str(tmp_path / "ck2"), available_now=True)
    assert q1.awaitTermination(600)
    assert q2.awaitTermination(600)

    gz = glob.glob(f"{lake}/telemetry/year=*/month=*/day=*/hour=*/*.json.gz")
    assert gz, "no gzip partitioned output files"
    recs = []
    for f in gz:
        with gzip.open(f, "rt") as fh:
            recs += [json.loads(line) for line in fh if line.strip()]
    assert len(recs) == N_GOOD
    assert set(recs[0]) == {"machineId", "temperature", "vibration", "timestamp"}

    err_files = glob.glob(f"{lake}/telemetry_errors/_reason=*/*.txt")
    err_lines = [ln for f in err_files for ln in open(f).read().splitlines() if ln]
    assert len(err_lines) == 2  # both non-empty bad payloads
    # both fixture failures are parse failures; reason rides the path
    assert {f.split("_reason=")[1].split("/")[0] for f in err_files} == {"parse"}


def test_dedup_within_watermark(spark, payload_dir, tmp_path):
    """Improvement mode: QoS-1 duplicate delivery collapsed on
    (machineId, timestamp)."""
    raw = _read_lines(spark, payload_dir).union(_read_lines(spark, payload_dir))
    good, _ = quarantine_split(parse_telemetry(raw))
    _drain_to_memory(dedup_stream(good), "t_dedup")
    assert spark.table("t_dedup").count() == N_GOOD


def test_windowed_stats(spark, payload_dir):
    """Tumbling 1-min event-time windows: generator emits 1 row/s from a
    fixed epoch → N_GOOD rows spread over ceil(200/60)=4 windows."""
    raw = _read_lines(spark, payload_dir)
    good, _ = quarantine_split(parse_telemetry(raw))
    stats = windowed_stats_stream(good, window="1 minute")
    # append mode only emits windows finalized by a LATER batch's
    # watermark; a bounded availableNow drain never runs one, so read
    # the full state with complete mode instead.
    q = (
        stats.writeStream.format("memory")
        .queryName("t_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    out = spark.table("t_win")
    wins = out.collect()
    assert len(wins) == 4
    assert sum(r.n for r in wins) == N_GOOD
    for r in wins:
        assert 65.0 <= r.avg_temp <= 85.0


def test_rate_simulator_live(spark):
    """O1–O7 live: the rate-source simulator produces schema-stable rows
    within a few seconds."""
    stream = telemetry_stream(spark, rows_per_second=50, num_partitions=2)
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "machineId",
        "temperature",
        "vibration",
        "timestamp",
    ]
    q = (
        stream.writeStream.format("memory")
        .queryName("t_live")
        .outputMode("append")
        .start()
    )
    try:
        # early-exit poll; generous deadline for full-suite load
        deadline = time.time() + 240
        n = 0
        while time.time() < deadline:
            n = spark.table("t_live").count()
            if n >= 20:
                break
            time.sleep(1)
        assert n >= 20
        row = spark.table("t_live").agg(
            F.min("temperature").alias("lo"), F.max("temperature").alias("hi")
        ).first()
        assert 65.0 <= row.lo and row.hi <= 85.0
    finally:
        q.stop()


def test_alarm_state_machine(spark, tmp_path):
    """applyInPandasWithState transitions: 3 consecutive anomalies →
    one ALARM row; first clean record after → one NORMAL row. State
    carries across micro-batches (two input files → two batches)."""
    from real_time_predictive_maintenance_data_pipeline_spark.streaming.stateful import (
        alarm_transitions,
    )

    d = tmp_path / "seq"
    d.mkdir()
    # machine M1: 2 anomalies (no alarm) then clean; M2: 4 anomalies
    # split across files (alarm fires at 3rd, i.e. ts=102), clean at 110.
    f1 = [
        '{"machineId":"M1","temperature":90.0,"vibration":4.0,"timestamp":100}',
        '{"machineId":"M1","temperature":91.0,"vibration":4.0,"timestamp":101}',
        '{"machineId":"M1","temperature":66.0,"vibration":1.3,"timestamp":102}',
        '{"machineId":"M2","temperature":92.0,"vibration":4.1,"timestamp":100}',
        '{"machineId":"M2","temperature":93.0,"vibration":4.2,"timestamp":101}',
    ]
    f2 = [
        '{"machineId":"M2","temperature":94.0,"vibration":4.3,"timestamp":102}',
        '{"machineId":"M2","temperature":95.0,"vibration":4.4,"timestamp":103}',
        '{"machineId":"M2","temperature":65.5,"vibration":1.2,"timestamp":110}',
    ]
    (d / "a.json").write_text("\n".join(f1))
    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(d))
    good, _ = quarantine_split(parse_telemetry(raw))
    scored = good.withColumn(
        "prediction", (F.col("temperature") > 80.0).cast("int")
    )
    out = alarm_transitions(scored, threshold=3)
    q = (
        out.writeStream.format("memory")
        .queryName("t_alarm")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table("t_alarm").count() < 0:
            time.sleep(1)
        # first file processed; now add the second batch
        time.sleep(3)
        (d / "b.json").write_text("\n".join(f2))
        while time.time() < deadline and spark.table("t_alarm").count() < 2:
            time.sleep(1)
        rows = {(r.machineId, r.state): r for r in spark.table("t_alarm").collect()}
        assert ("M1", "ALARM") not in rows  # only 2 consecutive
        alarm = rows[("M2", "ALARM")]
        assert alarm.timestamp == 102 and alarm.run_length == 3
        normal = rows[("M2", "NORMAL")]
        assert normal.timestamp == 110 and normal.run_length == 4
        assert len(rows) == 2
    finally:
        q.stop()


def test_session_windows(spark, tmp_path):
    """Session windows with a 30 s gap: two bursts separated by >30 s of
    event-time silence form exactly two sessions per machine."""
    from real_time_predictive_maintenance_data_pipeline_spark.streaming import (
        session_stream,
    )

    d = tmp_path / "sess"
    d.mkdir()
    lines = [
        # burst 1: ts 100..104 (5 rows), burst 2: ts 200..201 (2 rows)
        *(
            f'{{"machineId":"M1","temperature":66.0,"vibration":1.3,"timestamp":{t}}}'
            for t in range(100, 105)
        ),
        *(
            f'{{"machineId":"M1","temperature":67.0,"vibration":1.4,"timestamp":{t}}}'
            for t in range(200, 202)
        ),
    ]
    (d / "a.json").write_text("\n".join(lines))
    raw = spark.readStream.text(str(d))
    good, _ = quarantine_split(parse_telemetry(raw))
    sessions = session_stream(good, gap="30 seconds")
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    rows = sorted(spark.table("t_sess").collect(), key=lambda r: r.session.start)
    assert len(rows) == 2
    assert rows[0].n == 5 and rows[1].n == 2
    # session end = last event + gap
    assert (rows[0].session.end - rows[0].session.start).total_seconds() == 34


def test_checkpoint_recovery(spark, tmp_path):
    """Restart-from-checkpoint (SURVEY §5.2 #5): stop a file-sink query
    mid-stream, restart with the same checkpoint, and verify exactly-once
    output — no duplicates, no loss — across the restart."""
    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def mk_lines(lo, hi):
        return "\n".join(
            f'{{"machineId":"M1","temperature":66.0,"vibration":1.3,"timestamp":{t}}}'
            for t in range(lo, hi)
        )

    (src / "a.json").write_text(mk_lines(0, 50))

    def run_once():
        raw = spark.readStream.text(str(src))
        good, _ = quarantine_split(parse_telemetry(raw))
        q = (
            good.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    run_once()  # batch 1: rows 0..49
    (src / "b.json").write_text(mk_lines(50, 80))
    run_once()  # restart from checkpoint: must add only rows 50..79

    got = spark.read.schema(
        "machineId STRING, temperature DOUBLE, vibration DOUBLE, timestamp LONG"
    ).json(out)
    assert got.count() == 80
    assert got.select("timestamp").distinct().count() == 80


def test_foreach_batch_alert_sink(spark, payload_dir, tmp_path):
    """foreachBatch idempotent sink: batch summaries land under
    batch_id= dirs; replaying the same checkpoint adds nothing."""
    from real_time_predictive_maintenance_data_pipeline_spark.streaming import (
        alert_foreach_batch_sink,
    )

    raw = _read_lines(spark, payload_dir)
    good, _ = quarantine_split(parse_telemetry(raw))
    scored = good.withColumn("prediction", (F.col("temperature") > 80.0).cast("int"))
    out = str(tmp_path / "alerts")
    ck = str(tmp_path / "ck")
    q = alert_foreach_batch_sink(scored, out, ck, available_now=True)
    assert q.awaitTermination(600)

    summary = spark.read.json(f"{out}/batch_id=*")
    rows = {r.prediction: r.n for r in summary.collect()}
    assert sum(rows.values()) == N_GOOD
    assert set(rows) == {0, 1}

    # replay with same checkpoint: no new batches, totals unchanged
    q2 = alert_foreach_batch_sink(scored, out, ck, available_now=True)
    assert q2.awaitTermination(600)
    rows2 = {
        r.prediction: r.n
        for r in spark.read.json(f"{out}/batch_id=*").collect()
    }
    assert rows2 == rows


def test_multi_machine_simulator(spark):
    """Fleet generalization: num_machines machines, evenly loaded."""
    stream = telemetry_stream(
        spark, rows_per_second=100, num_partitions=2, num_machines=5
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_fleet")
        .outputMode("append")
        .start()
    )
    try:
        # early-exit poll; generous deadline for full-suite load
        deadline = time.time() + 240
        while time.time() < deadline:
            if spark.table("t_fleet").count() >= 100:
                break
            time.sleep(1)
        per_machine = dict(
            (r.machineId, r["count"])
            for r in spark.table("t_fleet").groupBy("machineId").count().collect()
        )
        assert len(per_machine) == 5
        assert all(m.startswith("NC_Machine_") for m in per_machine)
        lo, hi = min(per_machine.values()), max(per_machine.values())
        # round-robin is exact per rate partition, but one partition may
        # lag at sample time — assert rough balance, not lockstep
        assert hi <= 2 * lo + 2
    finally:
        q.stop()


def test_end_to_end_reference_pipeline(spark, tmp_path):
    """The reference's five phases as ONE composed streaming flow:
    simulator (O1-O7) -> wire JSON -> parse+quarantine (O24/O15) ->
    RF scoring (O25-O26) -> alert lines (O27), rate-source driven.
    Asserts live flow, alert/normal split, and byte-exact formatting."""
    from real_time_predictive_maintenance_data_pipeline_spark.streaming import (
        payload_stream,
    )

    model = train(historical_telemetry(spark))
    wire = payload_stream(spark, rows_per_second=200, num_partitions=2)
    good, _bad = quarantine_split(parse_telemetry(wire))
    alerts = scored_alert_stream(model, good)
    q = (
        alerts.writeStream.format("memory")
        .queryName("t_e2e")
        .outputMode("append")
        .start()
    )
    try:
        # generous deadline: exits as soon as enough rows land, but a
        # fully-loaded 32-thread suite can stall micro-batches for
        # minutes (45 s produced ZERO batches under full-suite load)
        deadline = time.time() + 300
        while time.time() < deadline:
            if spark.table("t_e2e").count() >= 300:
                break
            time.sleep(1)
        out = spark.table("t_e2e")
        n = out.count()
        assert n >= 300
        split = {r.prediction: r["count"] for r in out.groupBy("prediction").count().collect()}
        # ~10% anomaly injection should alert; both classes present
        assert split.get(1, 0) > 0 and split.get(0, 0) > 0
        assert split[1] / n < 0.3  # alerts are the minority class
        mism = out.filter(
            (F.col("temperature") > 80.0) != (F.col("prediction") == 1)
        ).count()
        assert mism == 0
    finally:
        q.stop()


def test_enrich_stream_static_join(spark, payload_dir):
    """Stream-static dim enrichment: every good row picks up its
    machine's site + threshold, and the breach flag matches the
    threshold comparison row-by-row."""
    from real_time_predictive_maintenance_data_pipeline_spark.streaming import (
        enrich_stream,
        machine_dim,
    )

    raw = _read_lines(spark, payload_dir)
    good, _ = quarantine_split(parse_telemetry(raw))
    dim = machine_dim(spark, ["NC_Machine_AC"])
    _drain_to_memory(enrich_stream(good, dim), "t_enrich")
    rows = spark.table("t_enrich").collect()
    assert len(rows) == N_GOOD
    # hoisted: a dim.collect() per row made this 50 s of pure Spark-job
    # latency (r16 suite diet — the dim is one static row)
    thr = dim.collect()[0]
    for r in rows:
        assert r.site == thr.site
        assert r.temp_alert_threshold == thr.temp_alert_threshold
        assert r.over_threshold == int(r.temperature > thr.temp_alert_threshold)


def test_maintenance_stream_stream_join(spark, payload_dir, tmp_path):
    """Watermarked stream-stream interval join: each maintenance order
    pairs with the telemetry readings of the following 2 minutes; the
    streaming result must equal the batch-computed expectation."""
    import datetime as dt

    from real_time_predictive_maintenance_data_pipeline_spark.streaming import (
        maintenance_correlation_stream,
    )

    # batch view of the good telemetry for the expectation
    raw_b = spark.read.text(str(payload_dir))
    good_b, _ = quarantine_split(parse_telemetry(raw_b))
    ts = sorted(r.timestamp for r in good_b.select("timestamp").collect())
    t0 = ts[0]
    maint_epochs = [t0 + 50, t0 + 117]

    def iso(e):
        return dt.datetime.fromtimestamp(e, dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S"
        )

    mdir = tmp_path / "maint"
    mdir.mkdir()
    (mdir / "orders.json").write_text(
        "\n".join(
            json.dumps(
                {"machineId": "NC_Machine_AC", "maint_time": iso(e), "maint_kind": k}
            )
            for e, k in zip(maint_epochs, ["inspection", "lubrication"])
        )
    )
    expected = sum(1 for t in ts for e in maint_epochs if e <= t <= e + 120)

    maint_schema = "machineId string, maint_time timestamp, maint_kind string"
    maint = spark.readStream.schema(maint_schema).json(str(mdir))
    raw_s = _read_lines(spark, payload_dir)
    good_s, _ = quarantine_split(parse_telemetry(raw_s))
    joined = maintenance_correlation_stream(good_s, maint, lookback="2 minutes")
    _drain_to_memory(joined, "t_maint")
    out = spark.table("t_maint")
    assert out.count() == expected
    kinds = {r.maint_kind for r in out.collect()}
    assert kinds == {"inspection", "lubrication"}


def test_dedup_with_rocksdb_state_store(spark, payload_dir):
    """The large-state scale path: the watermarked dedup runs (and
    dedups correctly) on the RocksDB state-store provider — the
    configuration a 100 TB keyed-state deployment uses instead of the
    heap-backed default."""
    from real_time_predictive_maintenance_data_pipeline_spark.session import (
        streaming_state_confs,
    )

    old = {}
    for k, v in streaming_state_confs().items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        raw = _read_lines(spark, payload_dir).union(_read_lines(spark, payload_dir))
        good, _ = quarantine_split(parse_telemetry(raw))
        _drain_to_memory(dedup_stream(good), "t_dedup_rocks")
        assert spark.table("t_dedup_rocks").count() == N_GOOD
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_drift_monitor_ewma_state(spark, tmp_path):
    """EWMA drift detector: state carries across micro-batches; only
    post-warmup deviations > delta emit."""
    from real_time_predictive_maintenance_data_pipeline_spark.streaming.stateful import (
        drift_monitor,
    )

    d = tmp_path / "drift"
    d.mkdir()
    # M1: 3 stable readings (warmup), then a +20° jump in batch 2.
    f1 = [
        '{"machineId":"M1","temperature":66.0,"vibration":1.3,"timestamp":100}',
        '{"machineId":"M1","temperature":66.0,"vibration":1.3,"timestamp":101}',
        '{"machineId":"M1","temperature":66.0,"vibration":1.3,"timestamp":102}',
    ]
    f2 = [
        '{"machineId":"M1","temperature":86.0,"vibration":1.3,"timestamp":103}',
        '{"machineId":"M1","temperature":66.5,"vibration":1.3,"timestamp":104}',
    ]
    (d / "a.json").write_text("\n".join(f1))
    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(d))
    good, _ = quarantine_split(parse_telemetry(raw))
    out = drift_monitor(good, alpha=0.2, delta=5.0, warmup=3)
    q = (
        out.writeStream.format("memory")
        .queryName("t_drift")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        time.sleep(5)  # let batch 1 (warmup, no output) process
        (d / "b.json").write_text("\n".join(f2))
        deadline = time.time() + 60
        while time.time() < deadline and spark.table("t_drift").count() < 1:
            time.sleep(1)
        time.sleep(3)  # settle: no further rows may appear
        rows = spark.table("t_drift").collect()
        # ts=103: |86 - 66| = 20 > 5 drifts against the stable EWMA.
        # ts=104: EWMA has moved to 0.2*86 + 0.8*66 = 70.0 and
        # |66.5 - 70.0| = 3.5 < 5 — no drift. Exactly one row total,
        # and its state (EWMA from batch 1) crossed the batch boundary.
        assert len(rows) == 1
        assert rows[0].timestamp == 103 and rows[0].temperature == "86.00"
        assert rows[0].ewma == "66.00" and rows[0].n_seen == 3
    finally:
        q.stop()


def test_artifact_scored_stream(spark, payload_dir, tmp_path):
    """O22/O26 artifact path composes with Structured Streaming: the
    artifact, compiled on the driver into a ``CASE WHEN`` column,
    scores inside a streaming plan, same decision function as the
    MLlib path on the separable generator data."""
    from real_time_predictive_maintenance_data_pipeline_spark.ml.artifact import (
        save_artifact,
        score_with_artifact,
        train_reference_artifact,
    )

    path = str(tmp_path / "art.bin")
    save_artifact(train_reference_artifact(historical_telemetry(spark)), path)
    raw = _read_lines(spark, payload_dir)
    good, _ = quarantine_split(parse_telemetry(raw))
    scored = score_with_artifact(good, path)
    assert scored.isStreaming
    _drain_to_memory(scored, "t_art")
    out = spark.table("t_art")
    assert out.count() == N_GOOD
    mism = out.filter(
        (F.col("temperature") > 80.0) != (F.col("prediction") == 1)
    ).count()
    assert mism == 0


def test_scored_stream_survives_pending_observation(spark, payload_dir):
    """Regression for the round-1 flake: a PENDING Observation anywhere
    in the session makes the SparkSession's ObservationManager
    non-serializable; a fitted RF model used to pin that session into
    its training summary, so task serialization of the scoring stream
    failed with 'Task not serializable' — but only when another test
    had left an observation registered (hence the flakiness).
    ml.anomaly.train now strips the summary; this test poisons the
    session deliberately and scores a stream."""
    from pyspark.sql import Observation

    obs = Observation("poison-pending")
    spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))  # never executed
    model = train(historical_telemetry(spark))
    assert not model.stages[-1].hasSummary
    raw = _read_lines(spark, payload_dir)
    good, _ = quarantine_split(parse_telemetry(raw))
    _drain_to_memory(scored_alert_stream(model, good), "t_obs_poison")
    assert spark.table("t_obs_poison").count() == N_GOOD


def test_append_mode_watermark_finalization_and_late_drop(spark, tmp_path):
    """Append-mode window semantics (§2.3 late-data row): a window is
    emitted only once the watermark passes its end, and a row arriving
    after the watermark has passed its window is DROPPED from state.

    Batch 1: 120 rows at t0..t0+119 (windows W0, W1 full).
    Batch 2: one row far in the future (advances watermark past all
    earlier windows) plus one LATE row back in W0.
    With a 10 s watermark: after batch 2 the finalized output must
    contain W0 with its ORIGINAL count (late row dropped) and W1."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck")
    t0 = 1_700_000_000 - (1_700_000_000 % 60)  # window-aligned epoch

    def mk(ts):
        return _json.dumps(
            {"machineId": "NC_Machine_AC", "temperature": 68.0,
             "vibration": 1.4, "timestamp": ts}
        )

    (src / "a.json").write_text("\n".join(mk(t0 + i) for i in range(120)))

    out = str(tmp_path / "out")

    def run_batch():
        raw = spark.readStream.text(str(src))
        good, _ = quarantine_split(parse_telemetry(raw))
        stats = windowed_stats_stream(good, window="1 minute", watermark="10 seconds")
        flat = stats.select(
            F.col("win.start").cast("long").alias("win_start"), "n"
        )
        q = (
            flat.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    def emitted():
        return {r.win_start: r.n for r in spark.read.json(out).collect()}

    run_batch()
    # availableNow's closing batch advances the watermark to
    # max_event - 10 s = t0+109, which finalizes W0 (ends t0+60) but
    # not W1 (ends t0+120): append mode emits exactly W0
    assert emitted() == {t0: 60}, emitted()

    # batch 2: watermark-advancer (far future) + one late row into W0.
    # The checkpointed restart must append W1 finalized — and NOT a
    # re-emitted/updated W0, which is exactly the late-row-dropped
    # semantics (the late row would otherwise bump W0 to 61).
    (src / "b.json").write_text("\n".join([mk(t0 + 3600), mk(t0 + 5)]))
    run_batch()
    assert emitted() == {t0: 60, t0 + 60: 60}, emitted()


def test_foreach_batch_cdc_merge(spark, tmp_path):
    """Streaming CDC apply: each micro-batch MERGEs into a parquet
    dimension via foreachBatch + merge_upsert — the lakehouse upsert
    loop (dedupe the batch to one row per key first; merge itself
    REJECTS duplicate source keys by contract)."""
    from pyspark.sql import functions as F

    from real_time_predictive_maintenance_data_pipeline_spark.operators.merge import (
        merge_upsert,
    )

    dim_dir = str(tmp_path / "dim")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(
        [(0, "init0"), (1, "init1")], "k bigint, v string"
    ).write.mode("overwrite").parquet(dim_dir)

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
        .select(
            (F.col("value") % 5).alias("k"),
            F.concat(F.lit("upd"), F.col("value")).alias("v"),
            F.col("value"),
        )
    )

    def apply_batch(batch, batch_id):
        if batch.isEmpty():
            return
        s = batch.sparkSession
        # latest row per key within the batch (CDC compaction step)
        latest = (
            batch.groupBy("k")
            .agg(F.max_by("v", "value").alias("v"))
            .select("k", "v")
        )
        target = s.read.parquet(dim_dir)
        merged = merge_upsert(target, latest, ["k"]).localCheckpoint()
        merged.write.mode("overwrite").parquet(dim_dir)

    q = (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        n_upd = 0
        while time.time() < deadline:
            time.sleep(2)
            try:
                # the poll races the stream's overwrite of the same dir
                # (files vanish mid-scan) — retry on the next tick
                rows = {r.k: r.v for r in spark.read.parquet(dim_dir).collect()}
            except Exception:
                continue
            n_upd = sum(1 for v in rows.values() if v.startswith("upd"))
            if n_upd >= 4 and len(rows) == 5:
                break
    finally:
        q.stop()
    rows = {r.k: r.v for r in spark.read.parquet(dim_dir).collect()}
    # keys: init {0,1} merged with stream keys 0..4 -> exactly {0,1,2,3,4}
    assert set(rows) == {0, 1, 2, 3, 4}
    # at least 4 of the 5 keys must show a streamed update (the loop's
    # exit condition; the last key may race the stop)
    assert sum(v.startswith("upd") for v in rows.values()) >= 4


def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: per-machine ValueState
    accumulates across micro-batches (two files -> two batches; the
    second batch's totals include the first's). The state-server
    protocol needs google.protobuf, which this container doesn't ship —
    skip there, run anywhere protobuf exists. (Not shimmable either:
    pyspark's StateMessage_pb2 gencode pins protobuf runtime >= 6.33
    via runtime_version.ValidateProtobufRuntimeVersion; the only
    protobuf copy anywhere on this image is 4.23.2, which predates the
    runtime_version module itself.)"""
    pytest.importorskip("google.protobuf.descriptor")
    from real_time_predictive_maintenance_data_pipeline_spark.streaming.stateful import (
        running_totals_tws,
    )

    d = tmp_path / "seq"
    d.mkdir()
    f1 = [
        '{"machineId":"M1","temperature":90.0,"vibration":4.0,"timestamp":100}',
        '{"machineId":"M1","temperature":66.0,"vibration":1.3,"timestamp":101}',
        '{"machineId":"M2","temperature":92.0,"vibration":4.1,"timestamp":100}',
    ]
    f2 = [
        '{"machineId":"M1","temperature":91.0,"vibration":4.0,"timestamp":102}',
        '{"machineId":"M2","temperature":65.0,"vibration":1.2,"timestamp":101}',
    ]
    (d / "a.json").write_text("\n".join(f1))
    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(d))
    good, _ = quarantine_split(parse_telemetry(raw))
    scored = good.withColumn(
        "prediction", (F.col("temperature") > 80.0).cast("int")
    )
    out = running_totals_tws(scored)
    q = (
        out.writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table("t_tws").count() < 2:
            time.sleep(1)
        time.sleep(2)
        (d / "b.json").write_text("\n".join(f2))
        # wait for the second batch's updated totals
        def latest():
            rows = spark.table("t_tws").collect()
            agg = {}
            for r in rows:
                agg[r.machineId] = max(
                    agg.get(r.machineId, (0, 0)), (r.n_total, r.n_anomalies)
                )
            return agg
        while time.time() < deadline and latest().get("M1", (0, 0))[0] < 3:
            time.sleep(1)
        agg = latest()
        assert agg["M1"] == (3, 2)  # 2 anomalies of 3 records, cumulative
        assert agg["M2"] == (2, 1)
    finally:
        q.stop()


def test_silence_monitor_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout state expiry: M_DEAD reports until ts=104 then
    goes dark; M_LIVE keeps reporting to ts=300, dragging the watermark
    past M_DEAD's deadline (104 + 30 s silence + 5 s delay). Exactly one
    SILENT alert for M_DEAD must fire — from the no-data timeout branch,
    since the dead machine never produces another record. M_LIVE's own
    deadline (300+30) stays ahead of the final watermark (295), so it
    must NOT alert."""
    from real_time_predictive_maintenance_data_pipeline_spark.streaming import (
        silence_monitor,
    )

    d = tmp_path / "silence"
    d.mkdir()
    mk = (
        lambda m, t: f'{{"machineId":"{m}","temperature":66.0,'
        f'"vibration":1.3,"timestamp":{t}}}'
    )
    (d / "a.json").write_text(
        "\n".join(mk("M_DEAD", t) for t in range(100, 105))
        + "\n"
        + "\n".join(mk("M_LIVE", t) for t in range(100, 105))
    )
    (d / "b.json").write_text(
        "\n".join(mk("M_LIVE", t) for t in range(290, 301))
    )
    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(d))
    good, _ = quarantine_split(parse_telemetry(raw))
    alerts = silence_monitor(good, silence_seconds=30)
    _drain_to_memory(alerts, "t_silence")
    rows = spark.table("t_silence").collect()
    assert [(r.machineId, r.last_seen, r.state) for r in rows] == [
        ("M_DEAD", 104, "SILENT")
    ]


def test_socket_transport_live(spark):
    """O23 over REAL network bytes: a local TCP server streams wire
    JSON (including malformed lines) to Spark's socket source; the
    full parse→quarantine path must recover every good record and
    route every bad one — the live-transport smoke the file stand-in
    cannot give (no broker exists in this container; the socket source
    is the transport-shaped path that does)."""
    import socket
    import threading
    import time

    from real_time_predictive_maintenance_data_pipeline_spark.sources.streams import (
        socket_payload_source,
    )

    good = [
        '{"machineId":"m-%02d","temperature":%s,"vibration":%s,"timestamp":%d}'
        % (i, 60.0 + i, 1.5 + i / 10.0, 1_700_000_000 + i)
        for i in range(20)
    ]
    bad = [ln for ln in BAD_LINES if ln]  # socket drops empty lines itself
    lines = good + bad

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve_one(conn):
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            stop.wait(120)  # keep the connection open until the test is done

    def serve():
        # EACH streaming query opens its own socket connection — accept
        # and replay the payload to every client until the test stops.
        srv.settimeout(1.0)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except OSError:
                continue
            threading.Thread(target=serve_one, args=(conn,), daemon=True).start()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    raw = socket_payload_source(spark, "127.0.0.1", port)
    assert raw.isStreaming
    good_df, bad_df = quarantine_split(parse_telemetry(raw))
    q1 = (
        good_df.writeStream.format("memory")
        .queryName("sock_good")
        .outputMode("append")
        .start()
    )
    q2 = (
        bad_df.writeStream.format("memory")
        .queryName("sock_bad")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            n_good = spark.table("sock_good").count()
            n_bad = spark.table("sock_bad").count()
            if n_good >= len(good) and n_bad >= len(bad):
                break
            time.sleep(1)
        out = spark.table("sock_good")
        assert out.count() == len(good)
        assert spark.table("sock_bad").count() == len(bad)
        row = out.orderBy("machineId").first()
        assert row.machineId == "m-00"
        assert row.temperature == 60.0 and row.timestamp == 1_700_000_000
    finally:
        stop.set()
        q1.stop()
        q2.stop()
        srv.close()


def test_backpressure_max_files_per_trigger(spark, tmp_path):
    """Backpressure proof (SURVEY §2.3): the reference has NO
    backpressure at all — its loop blocks at 1 msg/s
    (IoTSimulator.java:165). The engine's bound is per-trigger intake
    caps: ``maxFilesPerTrigger`` on the file transport (the exercisable
    twin of the Kafka path's ``maxOffsetsPerTrigger``, which is pinned
    as config in ``kafka_source_options``). Six payload files with an
    intake cap of 2 must drain in >= 3 micro-batches, every batch's
    numInputRows bounded by cap x rows-per-file — bounded memory per
    trigger no matter how deep the backlog."""
    from real_time_predictive_maintenance_data_pipeline_spark.functions.telemetry import (
        to_payload_json,
    )

    d = tmp_path / "backlog"
    d.mkdir()
    rows_per_file, n_files = 50, 6
    rows = (
        stream_telemetry_batch(spark, n=rows_per_file * n_files)
        .select(
            to_payload_json(
                F.col("machineId"),
                F.col("temperature"),
                F.col("vibration"),
                F.col("timestamp"),
            ).alias("v")
        )
        .collect()
    )
    for i in range(n_files):
        chunk = rows[i * rows_per_file : (i + 1) * rows_per_file]
        (d / f"part-{i}.json").write_text("\n".join(r.v for r in chunk))

    raw = (
        spark.readStream.option("maxFilesPerTrigger", "2").text(str(d))
    )
    good, _ = quarantine_split(parse_telemetry(raw))
    q = _drain_to_memory(good, "t_backpressure")
    assert spark.table("t_backpressure").count() == rows_per_file * n_files

    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progress) >= 3  # 6 files / cap 2 -> at least 3 batches
    assert all(
        p["numInputRows"] <= 2 * rows_per_file for p in progress
    )  # no trigger ever ingests more than the cap allows
