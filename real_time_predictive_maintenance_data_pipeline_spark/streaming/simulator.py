"""Streaming telemetry simulator — the reference's Phase-1 hot path
(IoTSimulator.java:153-188) as one declarative Structured Streaming
query: rate source → column program → JSON payloads.

Reference dataflow vs engine plan (SURVEY §3.1):
- 1 s publish loop + sleep  → ``rate`` source, rowsPerSecond=1 (O1)
- uniform draws (O2) and    → ``sources/generator.simulator_readings``
  Bernoulli anomaly (O3)      (hash draws keyed on the rate ``value``)
- current-time stamp (O4)   → rate source's own event timestamp, cast
  to Unix seconds (parity with currentTimeMillis()/1000, :182)
- struct + Gson JSON (O5,O6)→ ``to_json(struct(...))``
- MQTT QoS-1 publish (O7)   → any sink (memory/kafka/file); Spark's
  checkpointed delivery is at-least-once or better, satisfying QoS 1.

Rates far beyond 1 row/s are a config knob here (the reference's loop
is hard-bound at 1 Hz; rate source scales to millions/s across
partitions — the 100 TB path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.telemetry import to_payload_json
from ..sources.generator import MACHINE_ID, simulator_readings


def telemetry_stream(
    spark: SparkSession,
    rows_per_second: int = 1,
    num_partitions: int = 1,
    seed: int = 42,
    num_machines: int = 1,
) -> DataFrame:
    """Streaming DataFrame of telemetry rows (machineId, temperature,
    vibration, timestamp:long Unix-seconds).

    ``num_machines=1`` (default) is exact reference parity — the single
    hardcoded machine id (IoTSimulator.java:34). Larger values are the
    fleet generalization the reference's keyed sharding was built for
    (phase2-iot-kinesis.yaml:66): ids round-robin over the rate source's
    monotonic ``value``, so per-machine streams stay evenly loaded and
    a downstream ``partitionBy(machineId)`` spreads state uniformly."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", num_partitions)
        .load()
    )
    if num_machines == 1:
        machine = F.lit(MACHINE_ID)
    else:
        machine = F.format_string(
            "NC_Machine_%03d", (F.col("value") % num_machines).cast("int")
        )
    # Draws keyed on the rate source's monotonic `value`, NOT F.rand:
    # duplicated rand(seed) expressions advance independent per-task RNG
    # state and can diverge across plan stages/micro-batches (observed:
    # +15°C spike without the paired +2 mm/s one).
    return rate.select(
        machine.alias("machineId"),
        *simulator_readings(F.col("value"), seed),
        F.col("timestamp").cast("long").alias("timestamp"),
    )


def payload_stream(spark: SparkSession, **kwargs) -> DataFrame:
    """Telemetry stream serialized to one JSON string column ``value``
    (the wire format published on factory/telemetry, README.md:118-127)."""
    t = telemetry_stream(spark, **kwargs)
    return t.select(
        to_payload_json(
            F.col("machineId"),
            F.col("temperature"),
            F.col("vibration"),
            F.col("timestamp"),
        ).alias("value")
    )
