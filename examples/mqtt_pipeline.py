"""Run the reference pipeline over its ACTUAL transport — MQTT 3.1.1
frames on live TCP — end-to-end in one process:

    python examples/mqtt_pipeline.py [n_records] [--tls]

With ``--tls`` the demo mints a dev CA + server + device certificates
at runtime (``sources/mqtt_certs.py``; needs the ``cryptography``
package) and runs the identical loop with every MQTT frame inside
mutual TLS — the reference's port-8883 shape (O8,
AwsIotSslUtil.java:54-66, realtime_inference.py:152-162).

Phase map (reference → here):
  1. telemetry simulator publishing QoS 1     → ``publish_partitions``:
     to factory/telemetry (IoTSimulator)        one MQTT connection PER
                                                PARTITION, PUBACK-awaited,
                                                each row to ITS machine's
                                                topic factory/<id>/telemetry
  2. broker (AWS IoT Core) + topic rule       → in-process ``MiniBroker``
     subscribing one topic filter               routing the §4.7 wildcard
     (phase2-iot-kinesis.yaml:61; wildcard       filter factory/+/telemetry
     filters allowed — here we generalize        (generalizes the literal
     the literal single-topic default)           single-topic default)
  3. subscriber loop (realtime_inference.py)  → ``SubscriberBridge`` →
                                                replayable spool file
  4. RF training (sklearn notebook)           → MLlib pipeline, seeded
  5. scoring + alert formatting               → ``scored_alert_stream``
                                                over the spool stream

Every byte between phases 1 and 3 crosses a real socket as MQTT
CONNECT/SUBSCRIBE/PUBLISH/PUBACK frames (sources/mqtt_wire.py).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from real_time_predictive_maintenance_data_pipeline_spark.functions.telemetry import (
    to_payload_json,
)
from real_time_predictive_maintenance_data_pipeline_spark.ml.anomaly import (
    train_and_eval,
)
from real_time_predictive_maintenance_data_pipeline_spark.session import get_spark
from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
    historical_telemetry,
)
from real_time_predictive_maintenance_data_pipeline_spark.sources.pysource import (
    register as register_telemetry_source,
)
from real_time_predictive_maintenance_data_pipeline_spark.sources.mqtt_wire import (
    MiniBroker,
    SubscriberBridge,
    client_tls_context,
    publish_partitions,
    server_tls_context,
)
from real_time_predictive_maintenance_data_pipeline_spark.sources.streams import (
    TELEMETRY_TOPIC,
)
from real_time_predictive_maintenance_data_pipeline_spark.streaming import (
    parse_telemetry,
    quarantine_split,
    scored_alert_stream,
)


def main(n_records: int = 200, tls: bool = False) -> None:
    spark = get_spark("rtpmdp-mqtt-demo")
    spark.sparkContext.setLogLevel("ERROR")
    register_telemetry_source(spark)
    work = tempfile.mkdtemp(prefix="rtpmdp_mqtt_")

    tls_paths = None
    if tls:
        # O8: mint a dev CA + server + device certs; every MQTT frame
        # below then crosses the sockets inside mutual TLS
        from real_time_predictive_maintenance_data_pipeline_spark.sources.mqtt_certs import (
            mint_dev_certs,
        )

        certs = mint_dev_certs(f"{work}/certs")
        tls_paths = (
            certs["root_ca.pem"],
            certs["certificate.pem.crt"],
            certs["private.pem.key"],
        )
        print(f"minted dev certificates (mutual TLS ON): {work}/certs")

    print("phase 4: training MLlib RandomForest on seeded historical table ...")
    model, res = train_and_eval(historical_telemetry(spark))
    print(f"  held-out precision={res.precision:.2f} recall={res.recall:.2f}")

    print("phases 2-3: broker + QoS-1 wildcard subscriber bridge -> spool ...")
    broker = MiniBroker(
        tls=server_tls_context(
            certs["root_ca.pem"], certs["server.pem.crt"], certs["server.pem.key"]
        )
        if tls
        else None
    )
    # the reference's IoT rule subscribes one topic filter
    # (phase2-iot-kinesis.yaml:61 — default: the literal
    # 'factory/telemetry'); filters MAY be wildcards, and this
    # example generalizes to per-machine topics fanned in by one
    # wildcard filter — an extension beyond the reference default
    bridge = SubscriberBridge(
        broker.host,
        broker.port,
        "factory/+/telemetry",
        f"{work}/spool",
        tls=client_tls_context(*tls_paths) if tls else None,
    )

    print(f"phase 1: publishing {n_records} telemetry records over MQTT "
          f"(one QoS-1 connection per partition) ...")
    sim = (
        spark.read.format("telemetry_sim")
        .option("rows", str(n_records))
        .option("partitions", "4")
        .load()
    )
    wire = sim.select(
        to_payload_json(
            F.col("machineId"),
            F.col("temperature"),
            F.col("vibration"),
            F.col("timestamp"),
        ).alias("value"),
        F.concat(
            F.lit("factory/"), F.col("machineId"), F.lit("/telemetry")
        ).alias("topic"),
    )
    publish_partitions(
        wire,
        broker.host,
        broker.port,
        TELEMETRY_TOPIC,
        topic_col="topic",
        tls_paths=tls_paths,
    )

    deadline = time.time() + 30
    while (
        bridge.received < n_records or broker.inflight_count() > 0
    ) and time.time() < deadline:
        time.sleep(0.1)
    print(f"  bridge spooled {bridge.received}/{n_records} payloads "
          f"(broker in-flight after acks: {broker.inflight_count()})")

    print("phase 5: scoring the spooled stream, printing alerts ...")
    raw = spark.readStream.text(f"{work}/spool")
    good, bad = quarantine_split(parse_telemetry(raw))
    alerts = scored_alert_stream(model, good).select("alert")
    q = (
        alerts.writeStream.format("memory")
        .queryName("mqtt_alerts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT alert FROM mqtt_alerts").collect()
    print(f"  {len(got)} alerts from {bridge.received} records; first 3:")
    for r in got[:3]:
        print("   ", r.alert)

    bridge.close()
    broker.close()
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if a != "--tls"]
    main(
        int(argv[0]) if argv else 200,
        tls="--tls" in sys.argv[1:],
    )
