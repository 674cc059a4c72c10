"""End-to-end demo: ``python -m iot_sensor_data_pipeline_spark.demo``.

The whole engine in one run, no external services:

1. synthesize a sensor fleet's readings (sources/synthetic.py),
2. stream them (file source, micro-batches) through the three
   standard jobs — persistence and rule-engine alerts as one query,
   windowed aggregation as a second — into partitioned parquet + a
   console notifier,
3. run a few registry queries against the driver testdata.

The reference needs Kafka + Postgres + SMTP + 4 processes for step 2
(reference deployment.txt); here it is one process and a temp dir.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.plans import REGISTRY
from iot_sensor_data_pipeline_spark.session import get_spark
from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink
from iot_sensor_data_pipeline_spark.sources.synthetic import reading_batch
from iot_sensor_data_pipeline_spark.streaming.notifications import notification_sink
from iot_sensor_data_pipeline_spark.streaming.orchestrator import Pipeline

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("demo", shuffle_partitions=8)
    tmp = Path(tempfile.mkdtemp(prefix="iot-demo-"))
    src = tmp / "wire"
    src.mkdir()

    # -- 1. wire-format readings, two micro-batches 10 minutes apart
    for batch, start in (("b1", "2026-01-01 00:00:00"), ("b2", "2026-01-01 00:10:00")):
        wire = reading_batch(spark, 24 * 40, start_ts=start).select(
            F.to_json(F.struct("*")).alias("value")
        )
        (src / f"{batch}.json").write_text("\n".join(r.value for r in wire.collect()))

    # -- 2. the three standard jobs as two queries: persistence and
    # alerts share one source read and parse, the aggregator reads its
    # own; parquet sinks
    notifications: list = []
    with Pipeline() as p:
        chk = str(tmp / "chk")
        p.start_standard_jobs(
            raw_factory=lambda: spark.readStream.text(str(src)),
            checkpoint_root=chk,
            # checkpoint-bound sinks: parquet appends are replay-
            # idempotent (epoch+lineage-scoped file names)
            readings_sinks=[
                parquet_batch_sink(
                    str(tmp / "lake" / "readings"),
                    checkpoint=f"{chk}/ingest",
                )
            ],
            alerts_sinks=[
                parquet_batch_sink(
                    str(tmp / "lake" / "alerts"), checkpoint=f"{chk}/ingest"
                ),
                notification_sink(lambda subj, body: notifications.append(subj)),
            ],
            agg_sinks=[
                parquet_batch_sink(
                    str(tmp / "lake" / "agg"), checkpoint=f"{chk}/aggregator"
                )
            ],
            window_duration="4 minutes",
            watermark="1 minute",
        )
        p.process_all_available()

    readings = spark.read.parquet(str(tmp / "lake" / "readings"))
    alerts = spark.read.parquet(str(tmp / "lake" / "alerts"))
    print(f"readings persisted : {readings.count()}")
    print(f"alerts detected    : {alerts.count()}")
    alerts.groupBy("alert_type", "severity").count().orderBy("alert_type").show(truncate=False)
    print(f"notifications sent : {len(notifications)} (first: {notifications[:1]})")
    agg_path = tmp / "lake" / "agg"
    if agg_path.exists():
        agg = spark.read.parquet(str(agg_path))
        print(f"finalized windows  : {agg.count()}")
        agg.orderBy("window_start", "sensor_id").show(5, truncate=False)

    # -- 3. a few registry queries on the driver testdata
    for name in ("tpch_q1_pricing_summary", "events_window_agg", "documents_text_features"):
        df = REGISTRY[name].fn(spark, SF_DIR)
        print(f"query {name}: {df.count()} rows")

    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
