"""Corrupt-record quarantine (production hardening over the reference's
silent-null PERMISSIVE parse, reference data_persistance.py:76): with
corrupt capture enabled, malformed wire records are routed to a
dead-letter sink with their raw text, and clean rows are unaffected —
nothing silently dropped, nothing all-null persisted.
"""

from __future__ import annotations

import json
import time

import pytest

from iot_sensor_data_pipeline_spark.schema import SENSOR_READING_SCHEMA
from iot_sensor_data_pipeline_spark.sources.json_ingest import (
    CORRUPT_COL,
    parse_json_column,
    split_quarantine,
)
from iot_sensor_data_pipeline_spark.streaming.jobs import start_ingest

GOOD = json.dumps(
    {
        "sensor_id": "A_1_100_temperature",
        "sensor_type": "temperature",
        "location": {"building": "A", "floor": 1, "room": "100"},
        "timestamp": "2026-01-01T00:00:10",
        "value": 22.0,
        "unit": "celsius",
        "metadata": {"battery_level": 80, "signal_strength": -55},
    }
)
BAD_SYNTAX = '{"sensor_id": "broken", "value":'
BAD_TYPE = '{"sensor_id": "B", "value": "NOT_A_NUMBER"}'


def _parse(spark, raw_lines):
    df = spark.createDataFrame([(s,) for s in raw_lines], "value string")
    return parse_json_column(df, "value", SENSOR_READING_SCHEMA, corrupt_col=CORRUPT_COL)


def test_split_quarantine_batch(spark):
    parsed = _parse(spark, [GOOD, BAD_SYNTAX, BAD_TYPE, ""])
    clean, dead = split_quarantine(parsed)

    got_clean = clean.collect()
    assert [r.sensor_id for r in got_clean] == ["A_1_100_temperature"]
    assert got_clean[0].value == 22.0  # clean rows unaffected

    got_dead = sorted(r.raw_value for r in dead.collect())
    assert got_dead == sorted([BAD_SYNTAX, BAD_TYPE, ""])  # raw text kept
    assert all(r.quarantined_at is not None for r in dead.collect())


def test_null_input_quarantined_not_dropped(spark):
    df = spark.createDataFrame([(GOOD,), (None,)], "value string")
    parsed = parse_json_column(df, "value", SENSOR_READING_SCHEMA, corrupt_col=CORRUPT_COL)
    clean, dead = split_quarantine(parsed)
    assert clean.count() == 1
    assert dead.count() == 1  # null wire value is captured, not lost


def test_default_parse_unchanged(spark):
    """Without corrupt_col the reference-parity silent-null semantics
    hold (events_json_flatten's oracle depends on them)."""
    parsed = parse_json_column(
        spark.createDataFrame([(BAD_SYNTAX,)], "value string"),
        "value",
        SENSOR_READING_SCHEMA,
    )
    row = parsed.collect()[0]
    # silently nulled (all-null struct), no schema change
    assert all(v is None for v in row.data.asDict().values())
    assert CORRUPT_COL not in parsed.select("data.*").columns


def test_streaming_dead_letter_sink(spark, tmp_path):
    """End-to-end: start_ingest(dead_letter=...) splits a mixed
    micro-batch — readings reach the sinks, corrupt rows reach the
    dead-letter sink, counts add up."""
    src = tmp_path / "src"
    src.mkdir()
    readings: list = []
    dead_rows: list = []

    q = start_ingest(
        spark.readStream.text(str(src)),
        readings_sinks=[lambda df: readings.extend(df.collect())],
        alerts_sinks=[],
        checkpoint=str(tmp_path / "chk"),
        dead_letter=lambda df: dead_rows.extend(df.collect()),
    )
    try:
        tmp = src / ".b1.tmp"
        tmp.write_text("\n".join([GOOD, BAD_SYNTAX, GOOD]) + "\n")
        tmp.rename(src / "b1.json")
        time.sleep(0.05)
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(readings) == 2
    assert all(r.sensor_id == "A_1_100_temperature" for r in readings)
    assert [r.raw_value for r in dead_rows] == [BAD_SYNTAX]


def test_streaming_without_dead_letter_keeps_reference_semantics(spark, tmp_path):
    """dead_letter=None: the original one-lineage path, corrupt rows
    become all-null readings exactly like the reference."""
    src = tmp_path / "src"
    src.mkdir()
    readings: list = []

    q = start_ingest(
        spark.readStream.text(str(src)),
        readings_sinks=[lambda df: readings.extend(df.collect())],
        alerts_sinks=[],
        checkpoint=str(tmp_path / "chk"),
    )
    try:
        tmp = src / ".b1.tmp"
        tmp.write_text("\n".join([GOOD, BAD_SYNTAX]) + "\n")
        tmp.rename(src / "b1.json")
        time.sleep(0.05)
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(readings) == 2  # corrupt row flows through as nulls
    assert sorted([r.sensor_id for r in readings], key=str) == [
        "A_1_100_temperature",
        None,
    ]


def test_alerts_job_dead_letter_sink(spark, tmp_path):
    """start_ingest(dead_letter=...) with alerts sinks: corrupt wire
    rows quarantine, clean rows still run the rule engine — one source
    read, the detection applied once per batch."""
    src = tmp_path / "src"
    src.mkdir()
    alerts: list = []
    dead_rows: list = []

    hot = json.loads(GOOD)
    hot["value"] = 31.0  # temperature_critical (> 30)
    q = start_ingest(
        spark.readStream.text(str(src)),
        readings_sinks=[],
        alerts_sinks=[lambda df: alerts.extend(df.collect())],
        checkpoint=str(tmp_path / "chk"),
        dead_letter=lambda df: dead_rows.extend(df.collect()),
    )
    try:
        tmp = src / ".b1.tmp"
        tmp.write_text("\n".join([json.dumps(hot), BAD_SYNTAX, GOOD]) + "\n")
        tmp.rename(src / "b1.json")
        time.sleep(0.05)
        q.processAllAvailable()
    finally:
        q.stop()

    assert [r.raw_value for r in dead_rows] == [BAD_SYNTAX]
    assert len(alerts) == 1  # only the hot reading alerts (22.0 does not)
    assert alerts[0].alert_type == "temperature_critical"


def test_persistence_transform_hook_both_paths(spark, tmp_path):
    """The pre-storage scrub hook runs on clean rows in BOTH persistence
    paths (plain and quarantined) — e.g. masking device identifiers
    before they hit storage, the same shape as a curation PII scrub. It
    feeds the readings sinks only: alerts are detected on the parsed
    readings before it."""
    from pyspark.sql import functions as F

    def scrub(df):
        return df.withColumn(
            "sensor_id", F.regexp_replace("sensor_id", r"\d", "#")
        )

    hot = json.loads(GOOD)
    hot["value"] = 31.0  # temperature_critical (> 30)
    for variant, kw in [("plain", {}), ("quarantined", {"dead_letter": lambda df: None})]:
        src = tmp_path / f"src_{variant}"
        src.mkdir()
        rows: list = []
        alerts: list = []
        q = start_ingest(
            spark.readStream.text(str(src)),
            readings_sinks=[lambda df: rows.extend(df.collect())],
            alerts_sinks=[lambda df: alerts.extend(df.collect())],
            checkpoint=str(tmp_path / f"chk_{variant}"),
            transform=scrub,
            **kw,
        )
        try:
            tmp = src / ".b1.tmp"
            tmp.write_text(GOOD + "\n" + json.dumps(hot) + "\n")
            tmp.rename(src / "b1.json")
            time.sleep(0.05)
            q.processAllAvailable()
        finally:
            q.stop()
        assert [r.sensor_id for r in rows] == ["A_#_###_temperature"] * 2, variant
        assert [a.sensor_id for a in alerts] == ["A_1_100_temperature"], variant
