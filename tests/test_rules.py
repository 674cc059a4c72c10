"""Rule-engine semantics (SURVEY.md §2.6): priority order, first match
wins, attribute derivation — the golden scenario of FIXTURES.md §3."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from iot_sensor_data_pipeline_spark.functions.rules import SENSOR_RULES, detect_alerts

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)


def reading(ts_offset_s, value, battery=80, signal=-55, sensor_type="temperature", unit="celsius"):
    return Row(
        sensor_id=f"A_1_100_{sensor_type}",
        sensor_type=sensor_type,
        building="A",
        floor=1,
        room="100",
        timestamp=T0 + dt.timedelta(seconds=ts_offset_s),
        value=float(value),
        unit=unit,
        battery_level=battery,
        signal_strength=signal,
    )


@pytest.fixture(scope="module")
def golden(spark):
    # FIXTURES.md §3 rows r1-r5
    rows = [
        reading(10, 22.0),                 # r1: normal
        reading(70, 28.0),                 # r2: temperature_warning
        reading(130, 31.0),                # r3: temperature_critical
        reading(140, 22.0, battery=15),    # r4: battery_critical (env rules miss)
        reading(150, 31.0, battery=15),    # r5: temperature_critical only (first match wins)
    ]
    return spark.createDataFrame(rows)


def test_golden_alerts(golden):
    alerts = detect_alerts(golden).orderBy("timestamp").collect()
    assert [a.alert_type for a in alerts] == [
        "temperature_warning",
        "temperature_critical",
        "battery_critical",
        "temperature_critical",
    ]
    assert [a.severity for a in alerts] == ["warning", "critical", "critical", "critical"]
    assert [a.threshold_value for a in alerts] == [27.0, 30.0, 20.0, 30.0]
    assert [a.actual_value for a in alerts] == [28.0, 31.0, 22.0, 31.0]
    # reference parity: audit columns (alert_detector.py:204-207)
    assert all(a.status == "active" and a.resolved_at is None for a in alerts)
    assert alerts[0].message == "Température élevée (>27°C)"
    assert alerts[2].message == "Batterie CRITIQUE (<20%)"


def test_first_match_wins_battery_suppressed(spark):
    # r5 quirk: env alert suppresses battery alert entirely (SURVEY.md §2.6)
    df = spark.createDataFrame([reading(0, 31.0, battery=5, signal=-90)])
    alerts = detect_alerts(df).collect()
    assert len(alerts) == 1
    assert alerts[0].alert_type == "temperature_critical"


def test_normal_reading_no_alert(spark):
    df = spark.createDataFrame([reading(0, 22.0)])
    assert detect_alerts(df).count() == 0


def test_every_rule_reachable(spark):
    rows = [
        reading(0, 31.0),                                              # temperature_critical
        reading(1, 28.0),                                              # temperature_warning
        reading(2, 75.0, sensor_type="humidity", unit="percent"),      # humidity_critical
        reading(3, 62.0, sensor_type="humidity", unit="percent"),      # humidity_warning
        reading(4, 1050.0, sensor_type="pressure", unit="hPa"),        # pressure_critical
        reading(5, 1035.0, sensor_type="pressure", unit="hPa"),        # pressure_warning
        reading(6, 22.0, battery=10),                                  # battery_critical
        reading(7, 22.0, battery=30),                                  # battery_warning
        reading(8, 22.0, signal=-80),                                  # weak_signal_critical
        reading(9, 22.0, signal=-72),                                  # weak_signal_warning
    ]
    got = [a.alert_type for a in detect_alerts(spark.createDataFrame(rows)).orderBy("timestamp").collect()]
    assert got == [r.alert_type for r in SENSOR_RULES]


def test_boundary_values_no_alert(spark):
    # thresholds are strict inequalities (reference alert_detector.py:107-153)
    rows = [
        reading(0, 30.0),    # ==30: not critical, not >27? 30>27 -> warning!
        reading(1, 27.0),    # ==27: no alert
        reading(2, 22.0, battery=40),   # ==40: no battery_warning
        reading(3, 22.0, signal=-70),   # ==-70: no signal alert
    ]
    alerts = detect_alerts(spark.createDataFrame(rows)).collect()
    assert len(alerts) == 1  # only the 30.0 warning
    assert alerts[0].alert_type == "temperature_warning"
