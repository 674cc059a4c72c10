"""Alert lifecycle: resolve_alerts closes active alerts on recovery."""

from __future__ import annotations


def test_resolve_alerts_closes_on_recovery(spark):
    import datetime as dt

    from iot_sensor_data_pipeline_spark.streaming.stateful import resolve_alerts

    T0 = dt.datetime(2026, 1, 1)
    alerts = spark.createDataFrame(
        [
            ("s1", "temperature_critical", T0, None, "active"),
            ("s2", "battery_warning", T0, None, "active"),
            ("s1", "temperature_warning", T0 + dt.timedelta(hours=2), None, "active"),
        ],
        "sensor_id string, alert_type string, triggered_at timestamp, resolved_at timestamp, status string",
    )
    transitions = spark.createDataFrame(
        [("s1", None, "temperature_critical", T0 + dt.timedelta(hours=1), "recovered")],
        "sensor_id string, alert_type string, prev_alert_type string, timestamp timestamp, transition string",
    )
    out = {(r.sensor_id, r.alert_type): r for r in resolve_alerts(alerts, transitions).collect()}
    closed = out[("s1", "temperature_critical")]
    assert closed.status == "resolved" and closed.resolved_at == T0 + dt.timedelta(hours=1)
    # alert triggered AFTER the recovery stays active
    assert out[("s1", "temperature_warning")].status == "active"
    # other sensors untouched
    assert out[("s2", "battery_warning")].status == "active"
