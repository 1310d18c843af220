"""Streaming parity pipelines — the reference's Phases 2/3/5 as
Structured Streaming plans (SURVEY §2.3, §3.2, §3.3).

Reference dataflows reproduced here:

- **Relay + lake landing** (phase2-iot-kinesis.yaml:61-66,
  phase3-kinesis-s3.yaml:81-89): key-partitioning by machineId (O11),
  micro-batch buffering 300 s (O13), GZIP (O14), date/hour path layout
  with an error quarantine prefix (O15) → ``lake_sink`` +
  ``quarantine_split``.
- **Real-time inference** (realtime_inference.py:92-139): subscribe →
  JSON parse with drop-malformed (O24) → feature projection (O25) →
  model scoring (O26) → formatted console alert (O27) →
  ``scored_alert_stream``. Per-message callbacks become one
  micro-batch expression: the forest compiled into a ``CASE WHEN``
  (``ml.anomaly.prediction``) — the engine's core win.
- **Improvement mode** (SURVEY §2.3): at-least-once QoS-1 duplicates
  removed via ``dropDuplicatesWithinWatermark``; event-time windowed
  stats via watermark + tumbling window (the reference carries event
  time but never windows on it).

Scale notes (100 TB / 1000-executor design):
- Sources are declarative — swap the rate/file source for Kafka with
  ``maxOffsetsPerTrigger`` for backpressure; plans are unchanged.
- The scoring path is stateless: it scales linearly with input
  partitions, no shuffle at all (verified: plan is Scan → Project →
  Generate → Filter → Project, one ``from_json`` per row; the forest
  is literals in the plan, nothing rides task closures).
- Stateful ops (dedup, windows) shuffle once on the state key; with
  machineId as key, one machine = one state partition — mirror of the
  reference's Kinesis shard keying.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.telemetry import alert_line, parse_payload

#: Firehose buffering hint parity: 300 s flush (phase3-kinesis-s3.yaml:87-88).
#: The 5 MB size trigger has no Spark TRIGGER analog; this exactly-once
#: sink is time-triggered only. Full size-OR-time BufferingHints
#: semantics (at Firehose's own at-least-once level) live in
#: ``buffered_sink.buffered_lake_sink`` (r13).
LAKE_TRIGGER = "300 seconds"

GOOD_PREFIX = "telemetry"  # phase3-kinesis-s3.yaml:84
ERROR_PREFIX = "telemetry_errors"  # phase3-kinesis-s3.yaml:85

#: Physical plausibility envelope for the telemetry measures — the
#: STREAMING twin of the batch lake boundary's ``bounds`` leg
#: (operators/quarantine.py). The simulator's own range is temp
#: 65-85 °C / vib 1.2-5 mm/s (sources/generator.py:30-33,114-115);
#: the envelope is deliberately generous (any physically possible
#: industrial sensor reading passes) because the boundary's job is to
#: reject POISON — NaN, ±Inf (JSON ``1e999`` parses to Infinity), or a
#: 1e300 that overflows the downstream exact-cents cast — not to
#: pre-empt the alerting model.
#: Vibration's 0 lower bound is reference parity (O20 clip,
#: generate_historical_data.py via sources/generator.py:128).
TELEMETRY_BOUNDS: dict[str, tuple[float, float]] = {
    "temperature": (-100.0, 500.0),
    "vibration": (0.0, 1000.0),
}


def parse_telemetry(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """O24: PERMISSIVE JSON parse of the wire payload into typed columns.

    Output columns: machineId, temperature, vibration, timestamp, plus
    ``_corrupt`` (the raw payload, only for rows that failed to parse or
    failed field validation — realtime_inference.py:101-114 drops these
    with a warning; we keep them addressable for the quarantine sink).

    The parse sits inside a one-row ``inline`` generator: Catalyst
    pushes a downstream filter through a plain projection by inlining
    the aliased ``from_json`` into it (a dozen copies or more in each
    ``quarantine_split`` leg), but it cannot push a filter on a
    generator's output below the generator, so every row is parsed
    exactly once whatever the caller filters on.
    """
    parsed = raw.select(
        F.inline(F.array(F.struct(parse_payload(F.col(value_col)).alias("_p"), value_col)))
    )
    valid = (
        F.col("_p").isNotNull()
        & F.col("_p.temperature").isNotNull()
        & F.col("_p.vibration").isNotNull()
    )
    return parsed.select(
        F.col("_p.machineId").alias("machineId"),
        F.col("_p.temperature").alias("temperature"),
        F.col("_p.vibration").alias("vibration"),
        F.col("_p.timestamp").alias("timestamp"),
        # a null payload (a Kafka tombstone) is corrupt too: marked "",
        # or it would pass the split with null readings and be scored
        F.when(~valid, F.coalesce(F.col(value_col), F.lit(""))).alias("_corrupt"),
    )


def quarantine_split(
    parsed: DataFrame,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """O15/O24: (good, quarantine) pair. Good rows drop the ``_corrupt``
    marker; quarantined rows carry the offending payload as ``value`` —
    the engine's version of Firehose's ``telemetry_errors/`` prefix.

    Since r13 the split enforces the SAME contract as the batch lake
    boundary (``operators/quarantine.nonfinite_pred``): a payload that
    PARSES but carries a non-finite measure (JSON ``1e999`` →
    +Infinity) or one outside the plausibility envelope
    (``TELEMETRY_BOUNDS`` by default; pass ``bounds={}`` to disable)
    is quarantined too — reference parity with
    realtime_inference.py:101-114, which drops invalid readings. The
    compiled scorer (``ml.anomaly.score``) cannot fail on such a row,
    so the split no longer guards scoring; it keeps poison out of the
    lake and the alerts. Measure-invalid rows are re-serialized via
    ``to_json`` so the quarantine sink sees one string column either
    way, and every
    quarantined row carries a ``_reason`` tag (``parse`` — the payload
    never parsed — vs ``measure`` — it parsed but a reading violated
    the envelope), matching the batch boundary's reason-tagged split
    and making the quarantine prefix triageable without re-parsing.
    Both outputs stay plain filters — stateless, no shuffle."""
    from ..operators.quarantine import nonfinite_pred

    if bounds is None:
        bounds = TELEMETRY_BOUNDS
    bad_measure = nonfinite_pred(("temperature", "vibration"), bounds=bounds)
    good = parsed.filter(F.col("_corrupt").isNull() & ~bad_measure).drop(
        "_corrupt"
    )
    bad = parsed.filter(F.col("_corrupt").isNotNull() | bad_measure).select(
        F.coalesce(
            F.col("_corrupt"),
            F.to_json(
                F.struct("machineId", "temperature", "vibration", "timestamp")
            ),
        ).alias("value"),
        # a parse failure nulls the measures, so the two legs are
        # disjoint: _corrupt set → "parse", else the measure envelope
        F.when(F.col("_corrupt").isNotNull(), F.lit("parse"))
        .otherwise(F.lit("measure"))
        .alias("_reason"),
    )
    return good, bad


def _date_parts(event_ts: Column) -> list[Column]:
    """Firehose default path layout YYYY/MM/DD/HH (O15,
    docs/phase3-kinesis-s3.md:45) as partition columns derived from
    event time — partition pruning then works for time-range queries,
    which the reference's opaque S3 prefixes never could."""
    return [
        F.year(event_ts).alias("year"),
        F.month(event_ts).alias("month"),
        F.dayofmonth(event_ts).alias("day"),
        F.hour(event_ts).alias("hour"),
    ]


def lake_sink(
    good: DataFrame,
    path: str,
    checkpoint: str,
    trigger: str | None = LAKE_TRIGGER,
    available_now: bool = False,
) -> StreamingQuery:
    """O11–O15: gzip JSON lake landing, partitioned year/month/day/hour.

    Exactly-once to the file sink (Spark's sink log) — strictly stronger
    than Firehose's at-least-once. ``available_now`` drains the source
    then stops (test/replay mode)."""
    event_ts = F.timestamp_seconds(F.col("timestamp"))
    out = good.select("*", *_date_parts(event_ts))
    writer = (
        out.writeStream.format("json")
        .option("compression", "gzip")
        .option("path", f"{path}/{GOOD_PREFIX}")
        .option("checkpointLocation", checkpoint)
        .partitionBy("year", "month", "day", "hour")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def quarantine_sink(
    bad: DataFrame, path: str, checkpoint: str, available_now: bool = False
) -> StreamingQuery:
    """O15: failed payloads land verbatim under ``telemetry_errors/``,
    partitioned by quarantine reason (``_reason=parse`` /
    ``_reason=measure``) when the split tagged one — the prefix itself
    answers "malformed wire bytes or out-of-envelope reading?" with no
    re-parse, at zero row cost (partition value rides the path)."""
    writer = (
        bad.writeStream.format("text")
        .option("path", f"{path}/{ERROR_PREFIX}")
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if "_reason" in bad.columns:
        writer = writer.partitionBy("_reason")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def scored_alert_stream(model, parsed_good: DataFrame) -> DataFrame:
    """O25–O27: vectorized scoring + alert formatting on a stream.

    ``ml.anomaly.score`` is one row-local expression (the fitted forest
    compiled to a ``CASE WHEN``), so it works unchanged on streaming
    DataFrames; the output adds an integer ``prediction`` and the
    byte-exact ``alert`` line of realtime_inference.py:126-139."""
    from ..ml.anomaly import score

    scored = score(model, parsed_good)
    return scored.withColumn(
        "alert",
        alert_line(F.col("prediction"), F.col("temperature"), F.col("vibration")),
    )


def dedup_stream(
    parsed_good: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Improvement mode (SURVEY §2.3 delivery row): QoS-1 at-least-once
    duplicates collapsed on (machineId, timestamp) with bounded state —
    ``dropDuplicatesWithinWatermark`` keys state by the pair and expires
    it past the watermark, so state size is O(rate × watermark), not
    O(history)."""
    return (
        parsed_good.withColumn("event_time", F.timestamp_seconds(F.col("timestamp")))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["machineId", "timestamp"])
    )


def alert_foreach_batch_sink(
    alerts: DataFrame,
    out_dir: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """O7/O27 sink surface via ``foreachBatch``: per-micro-batch alert
    summary written idempotently.

    ``foreachBatch`` hands us (batch_df, batch_id); writing each batch
    under ``batch_id=<n>`` with overwrite makes replays idempotent —
    if a batch is re-run after a crash, it overwrites its own output
    instead of duplicating (Spark's replay guarantee: same batch_id →
    same data). This is the engine's stand-in for any transactional /
    upsert sink (Kafka producer, JDBC merge), with try/except
    log-and-continue fault handling matching the reference's per-message
    try/except (realtime_inference.py:117-123)."""
    from pyspark.sql import functions as _F

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            summary = batch_df.groupBy("prediction").agg(
                _F.count(_F.lit(1)).alias("n"),
                _F.round(_F.avg("temperature"), 2).alias("avg_temp"),
            )
            (
                summary.write.mode("overwrite").json(
                    f"{out_dir}/batch_id={batch_id}"
                )
            )
        except Exception as exc:  # log-and-continue (reference parity)
            print(f"[alert-sink] batch {batch_id} failed: {exc}")

    writer = (
        alerts.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_stream(
    parsed_good: DataFrame,
    gap: str = "30 seconds",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time session windows per machine (dynamic-gap sessionization
    — the streaming twin of the batch ``rel_sessionize`` query).

    ``F.session_window`` closes a session after ``gap`` of event-time
    silence; state per key is one open session (start, end, aggregates),
    expired by the watermark — bounded regardless of stream length."""
    with_ts = parsed_good.withColumn(
        "event_time", F.timestamp_seconds(F.col("timestamp"))
    ).withWatermark("event_time", watermark)
    return with_ts.groupBy(
        F.session_window("event_time", gap).alias("session"), F.col("machineId")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("temperature"), 2).alias("avg_temp"),
    )


def windowed_stats_stream(
    parsed_good: DataFrame,
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Engine improvement (SURVEY §2.3 event-time row): tumbling
    event-time sensor stats per machine. The reference carries event
    time (IoTSimulator.java:182) but never windows on it."""
    with_ts = parsed_good.withColumn(
        "event_time", F.timestamp_seconds(F.col("timestamp"))
    ).withWatermark("event_time", watermark)
    return with_ts.groupBy(
        F.window("event_time", window).alias("win"), F.col("machineId")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("temperature"), 2).alias("avg_temp"),
        F.round(F.max("temperature"), 2).alias("max_temp"),
        F.round(F.avg("vibration"), 2).alias("avg_vib"),
        F.round(F.max("vibration"), 2).alias("max_vib"),
    )


def machine_dim(spark, machine_ids: list[str]) -> DataFrame:
    """Deterministic machine-metadata dimension (site, per-machine alert
    threshold) for stream enrichment — the stand-in for the asset
    registry a real plant keeps. Hash-derived attributes, so any
    machineId set gets stable metadata with no external state."""
    dim = spark.createDataFrame([(m,) for m in machine_ids], ["machineId"])
    return dim.select(
        "machineId",
        F.concat(F.lit("site_"), (F.abs(F.xxhash64("machineId")) % 3).cast("string")).alias("site"),
        (F.lit(80.0) + (F.abs(F.xxhash64("machineId", F.lit(1))) % 5).cast("double")).alias("temp_alert_threshold"),
    )


def enrich_stream(parsed_good: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: attach dimension attributes to each telemetry
    row and derive a per-machine threshold breach flag.

    The static side is broadcast (dims are small by definition); the
    join is stateless — each micro-batch joins against the CURRENT dim
    snapshot, so dim updates between batches are picked up for free.
    At 100 TB/day stream volume this stays a map-only operator: no
    shuffle, no state store. The per-machine threshold generalizes the
    reference's global 80 °C rule (realtime_inference.py / model
    boundary) to asset-specific operating envelopes."""
    return parsed_good.join(F.broadcast(dim), "machineId", "left").withColumn(
        "over_threshold",
        (F.col("temperature") > F.col("temp_alert_threshold")).cast("int"),
    )


def maintenance_correlation_stream(
    telemetry: DataFrame,
    maintenance: DataFrame,
    lookback: str = "2 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: pair each telemetry reading with
    maintenance work orders for the same machine opened in the
    preceding ``lookback`` — "was this anomaly preceded by (or during)
    a maintenance event?" is the first question a maintenance engineer
    asks of an alert.

    ``maintenance`` carries (machineId, maint_time timestamp,
    maint_kind). Both sides are watermarked, and the join condition
    bounds maint_time to [event_time - lookback, event_time], which
    lets Spark expire join state on both sides — state is
    O(rate × (watermark + lookback)) per machine, independent of
    stream length. The join shuffles both streams on machineId — the
    reference's shard key (phase2-iot-kinesis.yaml:66) — so state
    co-locates per machine."""
    tele = telemetry.withColumn(
        "event_time", F.timestamp_seconds(F.col("timestamp"))
    ).withWatermark("event_time", watermark)
    maint = maintenance.withWatermark("maint_time", watermark)
    cond = (
        (tele.machineId == maint.machineId)
        & (F.col("maint_time") >= F.col("event_time") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("maint_time") <= F.col("event_time"))
    )
    return tele.join(maint, cond, "inner").select(
        tele.machineId.alias("machineId"),
        "event_time",
        "temperature",
        "vibration",
        "maint_time",
        "maint_kind",
    )
