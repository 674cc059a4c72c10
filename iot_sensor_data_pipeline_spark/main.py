"""Production entry point: ``python -m iot_sensor_data_pipeline_spark.main``.

The reference's orchestrator (reference spark_processing/main.py) reads
a ``.env`` and starts four jobs against Kafka + Postgres + SMTP. This
is the same surface — environment-configured, one process — wired
through the engine's fixed job layer (single-read multi-sink,
checkpoints, reachable liveness loop, in-process notifications).

Environment (same names as the reference's .env where applicable):

    KAFKA_BOOTSTRAP_SERVER   e.g. localhost:9092        (required)
    KAFKA_TOPIC              default iot-sensor-data
    KAFKA_ALERT_TOPIC        default iot-alert
    POSTGRES_DB_HOST/POSTGRES_PORT/POSTGRES_DB/POSTGRES_USER/POSTGRES_PASSWORD
                             enable the JDBC sinks when all set
    SMTP_HOST/SMTP_PORT/SMTP_SENDER/SMTP_RECIPIENTS
                             enable email notifications when all set
    CHECKPOINT_ROOT          default /tmp/iot-pipeline-checkpoints

Requires the spark-sql-kafka (and optionally postgresql) jars on the
classpath — start via spark-submit --packages, exactly like the
reference (reference spark_processing/utils.py:6).
"""

from __future__ import annotations

import os
import sys

from iot_sensor_data_pipeline_spark.session import get_spark
from iot_sensor_data_pipeline_spark.sources.jdbc import jdbc_batch_sink
from iot_sensor_data_pipeline_spark.sources.json_ingest import alert_wire_frame
from iot_sensor_data_pipeline_spark.sources.kafka import kafka_batch_sink, read_stream
from iot_sensor_data_pipeline_spark.streaming.notifications import (
    notification_sink,
    smtp_transport,
)
from iot_sensor_data_pipeline_spark.streaming.orchestrator import Pipeline


def _jdbc_sinks(table: str) -> list:
    host = os.environ.get("POSTGRES_DB_HOST")
    if not host:
        return []
    url = (
        f"jdbc:postgresql://{host}:{os.environ.get('POSTGRES_PORT', '5432')}/"
        f"{os.environ.get('POSTGRES_DB', 'iot')}"
    )
    return [
        jdbc_batch_sink(
            url,
            table,
            os.environ.get("POSTGRES_USER", "postgres"),
            os.environ.get("POSTGRES_PASSWORD", ""),
        )
    ]


def main() -> None:
    bootstrap = os.environ.get("KAFKA_BOOTSTRAP_SERVER")
    if not bootstrap:
        sys.exit(
            "KAFKA_BOOTSTRAP_SERVER is required (see module docstring); "
            "for a no-infrastructure demo run python -m iot_sensor_data_pipeline_spark.demo"
        )
    topic = os.environ.get("KAFKA_TOPIC", "iot-sensor-data")
    alert_topic = os.environ.get("KAFKA_ALERT_TOPIC", "iot-alert")
    checkpoint_root = os.environ.get("CHECKPOINT_ROOT", "/tmp/iot-pipeline-checkpoints")

    spark = get_spark("iot_pipeline")

    alerts_sinks: list = list(_jdbc_sinks("alerts"))
    # Kafka alert fan-out happens in the SAME foreachBatch as JDBC and
    # as the readings persistence — one source subscription and one
    # parse, unlike the reference's separate streams
    alerts_sinks.append(
        lambda df: kafka_batch_sink(bootstrap, alert_topic)(alert_wire_frame(df))
    )
    if os.environ.get("SMTP_HOST"):
        recipients = [
            r.strip() for r in os.environ.get("SMTP_RECIPIENTS", "").split(",") if r.strip()
        ]
        if not recipients:
            sys.exit("SMTP_HOST is set but SMTP_RECIPIENTS has no addresses")
        alerts_sinks.append(
            notification_sink(
                smtp_transport(
                    os.environ["SMTP_HOST"],
                    int(os.environ.get("SMTP_PORT", "25")),
                    os.environ.get("SMTP_SENDER", "iot-pipeline@localhost"),
                    recipients,
                    # STARTTLS + LOGIN when credentials are configured
                    # (the reference's port-587 deployment)
                    username=os.environ.get("SMTP_USER"),
                    password=os.environ.get("SMTP_PASS"),
                )
            )
        )

    with Pipeline() as pipeline:
        pipeline.start_standard_jobs(
            raw_factory=lambda: read_stream(spark, bootstrap, topic),
            checkpoint_root=checkpoint_root,
            readings_sinks=_jdbc_sinks("sensor_readings") or [lambda df: None],
            alerts_sinks=alerts_sinks,
            agg_sinks=_jdbc_sinks("aggregated_stats") or [lambda df: None],
        )
        pipeline.await_all()


if __name__ == "__main__":
    main()
