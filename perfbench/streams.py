"""``stream_score`` workload: payload_stream -> parse_telemetry ->
quarantine_split -> scored_alert_stream -> foreachBatch noop sink, at a
fixed offered rate with a 1 s trigger. The loop is open: the rate source
is anchored to the wall clock, so a slow trigger leaves a larger next
batch rather than a slower generator. The traced run also lands one
trigger's rows through ``lake_sink`` to split out the lake write."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime

from common import noop, nproc, start_session
from measure import median, steady_triggers, tail

#: Offered rate: about half the scoring chain's ceiling on a busy 4-core
#: host (44k rows/s), which keeps the median trigger near 600 ms, inside
#: the 1 s trigger even when the host slows (README, Sizing).
RATE = 25_000
MACHINES = 1_000
TRIGGER = "1 second"
#: Triggers before the timed window. Trigger times fall for the first
#: eleven or so triggers while the JIT compiles the chain.
WARMUP = 12
#: Repeats of each static prefix in the traced layer split.
PREFIX_REPEATS = 3
TRIGGER_PARTS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")


def _ts(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"]).timestamp()


def _await_batch(q, batch_id: int, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise q.exception()
        last = q.lastProgress
        if last is not None and last["batchId"] >= batch_id:
            return
        time.sleep(0.05)
    raise TimeoutError(f"no trigger {batch_id} within {timeout} s")


def _traced_batch(batch_id: int) -> bool:
    """Triggers a traced run wraps in a span: U T T U by batch id, so a
    drift of trigger times cancels out of the tracing overhead."""
    return batch_id % 4 in (1, 2)


def _start(spark, model, seed: int, ckpt: str, tracer):
    """The scored alert stream into a noop sink. ``observe`` counts, per
    trigger, the rows, predicted anomalies, ALERT lines and rows at or
    above 75 °C in the same pass that scores them."""
    from pyspark.sql import functions as F

    from real_time_predictive_maintenance_data_pipeline_spark.functions.telemetry import (
        ALERT_FMT,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.streaming.pipeline import (
        parse_telemetry,
        quarantine_split,
        scored_alert_stream,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.streaming.simulator import (
        payload_stream,
    )

    raw = payload_stream(
        spark,
        rows_per_second=RATE,
        num_partitions=nproc(),
        num_machines=MACHINES,
        seed=seed,
    )
    good, _bad = quarantine_split(parse_telemetry(raw))
    alerts = scored_alert_stream(model, good).observe(
        "check",
        F.count(F.lit(1)).alias("rows"),
        F.sum((F.col("prediction") == 1).cast("long")).alias("predicted"),
        F.sum(F.col("alert").startswith(ALERT_FMT.split("%")[0]).cast("long")).alias("alerts"),
        F.sum((F.col("temperature") >= 75).cast("long")).alias("hot"),
    )
    def sink(df, batch_id: int) -> None:
        if tracer.enabled and _traced_batch(batch_id):
            with tracer.span("stream.batch"):
                noop(df)
        else:
            noop(df)

    return (
        alerts.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=TRIGGER)
        .start()
    )


def _score_ok(p: dict) -> bool:
    m = p.get("observedMetrics", {}).get("check")
    return (
        m is not None
        and m["rows"] == p["numInputRows"]
        and m["predicted"] == m["alerts"] == m["hot"]
    )


def run(seed: int, seconds: float, tracer) -> dict:
    from real_time_predictive_maintenance_data_pipeline_spark.ml.anomaly import train
    from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
        historical_telemetry,
    )

    t0 = time.perf_counter()
    spark = start_session(tracer)
    with tracer.span("ml.anomaly.train"):
        model = train(historical_telemetry(spark))
    work = tempfile.mkdtemp(prefix="stream_")
    with tracer.span("stream.warmup"):
        q = _start(spark, model, seed, os.path.join(work, "ckpt"), tracer)
        _await_batch(q, WARMUP - 1, timeout=120)
    first = q.lastProgress["batchId"] + 1
    setup_s = time.perf_counter() - t0

    with tracer.span("stream.window"):
        end = time.monotonic() + seconds
        while time.monotonic() < end and q.exception() is None:
            time.sleep(0.1)
        terminated = q.exception() is not None
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        q.awaitTermination(60)
    if terminated:
        print(f"stream terminated: {q.exception()!r}"[:2000], file=sys.stderr)

    steady = steady_triggers(progress, first)
    batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in steady]
    starts = [_ts(p) for p in steady]
    attempted = max(1, len(steady))
    failed = int(terminated) + (0 if steady else 1)
    failed += sum(1 for p in steady if not _score_ok(p))
    t = tail(batch_ms)
    report: dict = {
        "offered_rows_per_s": RATE,
        "trigger_ms": [p["durationMs"].get("triggerExecution") for p in progress],
        "batch_p50_ms": median(batch_ms),
        "batch_tail": (
            {"percentile": t[0], "ms": t[1], "samples": t[2]}
            if t
            else {"percentile": None, "ms": None, "samples": len(batch_ms)}
        ),
        "rows_per_s": (
            sum(p["numInputRows"] for p in steady[1:]) / (starts[-1] - starts[0])
            if len(steady) > 1
            else 0.0
        ),
    }
    layers: dict[str, float] = {
        f"trigger.{k}_ms": median([float(p["durationMs"].get(k, 0)) for p in steady])
        for k in TRIGGER_PARTS
    }
    layers["streaming.simulator.late_ms"] = median(
        [1000.0 * (b - a - 1.0) for a, b in zip(starts, starts[1:])]
    )

    if tracer.enabled:
        split, landed = _prefix_split(spark, model, seed, work, tracer)
        report["chain_rows_per_s"] = RATE / split.pop("chain_s")
        layers.update(split)
        attempted += 1
        failed += not landed["ok"]
        layers["lake.files"] = landed["files"]
        layers["lake.bytes"] = landed["bytes"]
        report["lake_bytes_per_row"] = landed["bytes"] / max(1, landed["rows"])
        layers["trace.overhead_ms"] = median(
            [ms for p, ms in zip(steady, batch_ms) if _traced_batch(p["batchId"])]
        ) - median([ms for p, ms in zip(steady, batch_ms) if not _traced_batch(p["batchId"])])
    shutil.rmtree(work, ignore_errors=True)
    return {
        "setup_s": setup_s,
        "op_ms": batch_ms,
        "attempted": attempted,
        "failed": failed,
        "layers": layers,
        "report": report,
    }


def _timed(fn, tracer, name: str) -> float:
    """Median wall of ``PREFIX_REPEATS`` calls of ``fn``."""
    walls = []
    for _ in range(PREFIX_REPEATS):
        t0 = time.perf_counter()
        with tracer.span(name):
            fn()
        walls.append(time.perf_counter() - t0)
    return median(walls)


def _static_chain(spark, model, seed: int) -> list:
    """(layer, DataFrame) pairs: the stream chain's public functions
    applied to a static batch of one trigger's rows, as cumulative
    prefixes."""
    from pyspark.sql import functions as F

    from real_time_predictive_maintenance_data_pipeline_spark.functions.telemetry import (
        alert_line,
        to_payload_json,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.ml.anomaly import score
    from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
        stream_telemetry_batch,
    )
    from real_time_predictive_maintenance_data_pipeline_spark.streaming.pipeline import (
        parse_telemetry,
        quarantine_split,
    )

    gen = stream_telemetry_batch(spark, n=RATE, seed=seed)
    payload = gen.select(
        to_payload_json(*(F.col(c) for c in gen.columns)).alias("value")
    )
    parsed = parse_telemetry(payload)
    good = quarantine_split(parsed)[0]
    scored = score(model, good)
    alerts = scored.withColumn(
        "alert", alert_line(F.col("prediction"), F.col("temperature"), F.col("vibration"))
    )
    return [
        ("streaming.simulator.gen_s", gen),
        ("functions.telemetry.payload_s", payload),
        ("functions.telemetry.parse_s", parsed),
        ("streaming.pipeline.quarantine_s", good),
        ("ml.anomaly.score_s", scored),
        ("functions.telemetry.alert_s", alerts),
    ]


def _prefix_split(spark, model, seed: int, work: str, tracer) -> tuple[dict, dict]:
    """Per-layer seconds for one trigger's rows: materialize the static
    chain to noop as cumulative prefixes; a layer is the difference
    between consecutive prefixes. The lake write is an available-now
    ``lake_sink`` run over the landed quarantine output, minus the same
    stream read into a noop sink. Also returns what the last lake run
    landed, and whether every row read back."""
    from real_time_predictive_maintenance_data_pipeline_spark.streaming.pipeline import (
        lake_sink,
    )

    chain = _static_chain(spark, model, seed)
    out: dict[str, float] = {}
    prev = 0.0
    for name, df in chain:
        wall = _timed(lambda: noop(df), tracer, f"prefix.{name}")
        out[name] = wall - prev
        prev = wall
    out["chain_s"] = prev

    good = dict(chain)["streaming.pipeline.quarantine_s"]
    source = os.path.join(work, "good")
    good.write.parquet(source)
    lake = os.path.join(work, "lake")

    def drain(to_lake: bool) -> None:
        shutil.rmtree(lake, ignore_errors=True)
        src = spark.readStream.schema(good.schema).parquet(source)
        ckpt = tempfile.mkdtemp(dir=work)
        if to_lake:
            q = lake_sink(src, lake, ckpt, available_now=True)
        else:
            q = (
                src.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()

    read = _timed(lambda: drain(False), tracer, "prefix.stream_read")
    write = _timed(lambda: drain(True), tracer, "prefix.streaming.pipeline.lake_write")
    out["streaming.pipeline.lake_write_s"] = write - read

    df = spark.read.json(f"{lake}/telemetry")
    files = df.inputFiles()
    rows = df.count()
    landed = {
        "ok": rows == good.count(),
        "rows": rows,
        "files": len(files),
        "bytes": sum(os.path.getsize(f.removeprefix("file://")) for f in files),
    }
    return out, landed
