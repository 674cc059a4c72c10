"""Alert lifecycle.

``resolve_alerts`` closes out the reference's never-resolved alerts
(its ``resolved_at`` stays NULL forever) from a table of alert-state
transitions; ``plans/queries_reference.py`` runs it in batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_alerts(alerts_table: DataFrame, transitions: DataFrame) -> DataFrame:
    """Close out active alerts when their sensor recovers.

    The reference writes ``resolved_at = NULL`` forever (reference
    alert_detector.py:205 — alerts are never resolved). Here the
    debounce stream's 'recovered'/'changed' transitions update the
    alerts table: an active alert of sensor S with triggered_at <= the
    transition time gets resolved_at = transition timestamp and
    status = 'resolved'.

    Batch operator (run it in the same foreachBatch that persists
    transitions); one broadcast-or-shuffle join on sensor_id.
    """
    closes = (
        transitions.where(F.col("transition").isin("recovered", "changed"))
        .groupBy("sensor_id")
        .agg(F.max("timestamp").alias("__resolved_ts"))
    )
    joined = alerts_table.join(F.broadcast(closes), "sensor_id", "left")
    should_close = (
        (F.col("status") == "active")
        & F.col("__resolved_ts").isNotNull()
        & (F.col("triggered_at") <= F.col("__resolved_ts"))
    )
    return joined.withColumn(
        "resolved_at",
        F.when(should_close, F.col("__resolved_ts")).otherwise(F.col("resolved_at")),
    ).withColumn(
        "status", F.when(should_close, F.lit("resolved")).otherwise(F.col("status"))
    ).drop("__resolved_ts")
