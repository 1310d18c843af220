"""Seeded telemetry generators — DataFrame programs with the reference's
generator semantics (SURVEY.md §1, O1–O5 and O16–O21).

Two datasets:

- ``stream_telemetry_batch``: batch shape of the live simulator
  (IoTSimulator.java:153-188) — machineId constant, temp U(65,70) °C,
  vib U(1.2,1.5) mm/s, Bernoulli(0.10) anomaly adding +15 °C / +2 mm/s,
  Unix-seconds timestamps at 1 row/s.
- ``historical_telemetry``: training table
  (generate_historical_data.py:30-74) — 1-minute grid ending at a fixed
  UTC anchor, EXACTLY 5 % anomaly rows (sampled without replacement),
  normals temp~N(68,3) / vib~N(1.8,0.3), anomalies temp~U(80,100) /
  vib~U(3,5), vibration clipped ≥ 0.

The reference draws unseeded (generate_historical_data.py:49 even notes
"change to default_rng(42) for reproducibility" — we take that option);
here every draw is seeded so tests assert exact fractions and bounded
distributions. Everything is column expressions over ``spark.range`` —
fully distributed, no driver-side data generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MACHINE_ID = "NC_Machine_AC"  # IoTSimulator.java:34
TEMP_MIN, TEMP_MAX = 65.0, 70.0  # IoTSimulator.java:37-38
VIB_MIN, VIB_MAX = 1.2, 1.5  # IoTSimulator.java:41-42
ANOMALY_TEMP_DELTA = 15.0  # IoTSimulator.java:45
ANOMALY_VIB_DELTA = 2.0  # IoTSimulator.java:46
ANOMALY_PROBABILITY = 0.10  # IoTSimulator.java:49

HIST_ANOMALY_FRACTION = 0.05  # generate_historical_data.py:48
HIST_ANCHOR = "2026-02-16 14:41:00"  # fixed UTC anchor (CSV golden file epoch)


def _uniform(lo: float, hi: float, seed: int):
    return F.rand(seed) * (hi - lo) + lo


_HASH_MOD = 1_000_000_007


def hash_uniform(col, salt: int):
    """Deterministic U[0,1) keyed on a row-identity column.

    Unlike ``F.rand(seed)`` — whose per-expression RNG state advances
    with task-local row order, so two copies of the same seed can
    silently diverge across plan stages or streaming micro-batches
    (observed: anomaly delta applied to temperature but not vibration)
    — a hash draw depends only on the row's identity. Every expression
    that references the same (col, salt) sees the same value, under any
    plan shape, retry, or micro-batch split. This also makes streaming
    draws replay-stable: a recomputed partition regenerates identical
    rows, preserving end-to-end exactly-once."""
    return (
        F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(_HASH_MOD)).cast("double")
        / _HASH_MOD
    )


def simulator_readings(rid: Column, seed: int) -> tuple[Column, Column]:
    """The simulator's per-row draw program (O2, O3): ``temperature``
    and ``vibration`` columns for row-id column ``rid``.

    Temp U(65,70) °C and vib U(1.2,1.5) mm/s, plus a Bernoulli(0.10)
    anomaly adding +15 °C / +2 mm/s. Draws are hash-keyed on the row id
    (see ``hash_uniform``), so the anomaly branch applies to temperature
    AND vibration atomically, and a replayed row redraws identically.
    """
    is_anom = hash_uniform(rid, seed) < ANOMALY_PROBABILITY
    temp = hash_uniform(rid, seed + 1) * (TEMP_MAX - TEMP_MIN) + TEMP_MIN
    vib = hash_uniform(rid, seed + 2) * (VIB_MAX - VIB_MIN) + VIB_MIN
    return (
        F.when(is_anom, temp + ANOMALY_TEMP_DELTA).otherwise(temp).alias("temperature"),
        F.when(is_anom, vib + ANOMALY_VIB_DELTA).otherwise(vib).alias("vibration"),
    )


def stream_telemetry_batch(
    spark: SparkSession,
    n: int = 1000,
    seed: int = 42,
    start_epoch_s: int = 1_750_000_000,
) -> DataFrame:
    """Batch twin of the 1 row/s simulator loop (O1–O5).

    Columns: machineId, temperature, vibration, timestamp (Unix seconds,
    LongType — IoTSimulator.java:182 uses currentTimeMillis()/1000).
    Readings come from ``simulator_readings`` keyed on the row id.
    """
    base = spark.range(n)  # distributed id grid — no driver loop
    return base.select(
        F.lit(MACHINE_ID).alias("machineId"),
        *simulator_readings(F.col("id"), seed),
        (F.lit(start_epoch_s) + F.col("id")).cast("long").alias("timestamp"),
    )


def historical_telemetry(
    spark: SparkSession, n: int = 10_000, seed: int = 42, anchor: str = HIST_ANCHOR
) -> DataFrame:
    """Seeded training table with EXACT 5 % without-replacement labels.

    Exactness (generate_historical_data.py:48-51 uses rng.choice without
    replacement) is reproduced with rank-over-random:
    ``row_number() OVER (ORDER BY rand(seed)) <= round(n * 0.05)``.

    Scale note: the global rank is a single-partition sort — correct for
    the 10 k-row parity table; at 100 TB swap to per-partition
    proportional sampling (``F.rand() < p``) where binomial jitter is
    negligible, or distributed ``row_number`` via zipWithIndex-style
    two-pass. The parity contract (exact count) only exists at 10 k.
    """
    n_anom = int(round(n * HIST_ANOMALY_FRACTION))
    base = spark.range(n).withColumn(
        "__rnk", F.row_number().over(Window.orderBy(F.rand(seed)))
    )
    is_anom = (F.col("__rnk") <= n_anom).cast("int")

    normal_temp = F.randn(seed + 1) * 3.0 + 68.0
    normal_vib = F.randn(seed + 2) * 0.3 + 1.8
    anom_temp = _uniform(80.0, 100.0, seed + 3)
    anom_vib = _uniform(3.0, 5.0, seed + 4)

    # 1-minute grid ending at the anchor (generate_historical_data.py:38-40)
    anchor_ts = F.to_timestamp(F.lit(anchor))
    ts = F.timestamp_seconds(
        F.unix_timestamp(anchor_ts) - (F.lit(n - 1) - F.col("id")) * 60
    )

    return base.select(
        ts.alias("timestamp"),
        F.lit(MACHINE_ID).alias("machineId"),
        F.when(is_anom == 1, anom_temp).otherwise(normal_temp).alias("temperature"),
        F.greatest(  # clip ≥ 0 (generate_historical_data.py:64)
            F.lit(0.0),
            F.when(is_anom == 1, anom_vib).otherwise(normal_vib),
        ).alias("vibration"),
        is_anom.alias("is_anomaly"),
    )


def clustered_embeddings(
    spark: SparkSession,
    n: int = 2000,
    dim: int = 64,
    n_clusters: int = 20,
    noise: float = 0.25,
    seed: int = 7,
) -> DataFrame:
    """Seeded mixture-of-Gaussians embedding corpus — the CLUSTERED
    twin of the near-random sf0.1 ``embeddings`` fixture (r13 verdict
    task 5): real encoder embeddings concentrate around semantic modes,
    and the ANN recall a deployment sees depends on that structure, so
    the recall tables need a fixture that has it. Each vector is its
    cluster's centroid (U[-1,1]^dim, hash-keyed on the cluster id) plus
    isotropic Gaussian noise (Box–Muller over hash draws).

    Every draw is ``hash_uniform``-style — keyed on row/cluster
    identity, not ``F.rand`` task state — so the corpus is bit-stable
    under any partitioning, retry, or plan shape (same property the
    telemetry generator relies on for replay-stable streams).

    Scale: pure per-row expression over ``spark.range`` — no driver
    data, no shuffle; generating 10^9 vectors is a scan.
    """
    import math

    base = spark.range(n)
    rid = F.col("id")
    cluster = F.pmod(F.xxhash64(rid, F.lit(seed)), F.lit(n_clusters))

    def _centroid(d: int):
        # U[-1, 1] per (cluster, dimension)
        return hash_uniform(cluster, seed + 1_000 + d) * 2.0 - 1.0

    def _gauss(d: int):
        # Box–Muller: N(0,1) from two identity-keyed uniforms;
        # 1-u1 lies in (0, 1], so the log is always finite
        u1 = hash_uniform(rid, seed + 10_000 + 2 * d)
        u2 = hash_uniform(rid, seed + 10_000 + 2 * d + 1)
        return F.sqrt(-2.0 * F.log(1.0 - u1)) * F.cos(2.0 * math.pi * u2)

    emb = F.array(
        *[(_centroid(d) + noise * _gauss(d)).cast("float") for d in range(dim)]
    )
    return base.select(
        rid.cast("int").alias("vec_id"),
        cluster.cast("int").alias("cluster_id"),
        emb.alias("embedding"),
    )
