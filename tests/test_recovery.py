"""Checkpoint recovery: a restarted query resumes from committed
offsets — no re-emission of processed batches, no data loss, and
stateful aggregation state survives the restart.

(The reference loses data on restart: startingOffsets=latest with no
checkpoint on 3 of 4 queries — SURVEY.md §4 anti-pattern b. These
tests pin the fixed behavior.)
"""

from __future__ import annotations

import os

import pytest

from iot_sensor_data_pipeline_spark.streaming.jobs import start_aggregator, start_ingest
from iot_sensor_data_pipeline_spark.streaming.orchestrator import Pipeline
from tests.test_streaming import reading_json, write_batch


def test_alert_query_restart_no_reemission_no_loss(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    chk = str(tmp_path / "chk")
    out1: list = []

    raw = spark.readStream.text(str(src))
    q = start_ingest(raw, [], [lambda df: out1.extend(df.collect())], checkpoint=chk)
    write_batch(src, "b1.json", [reading_json("00:10", 31.0)])
    q.processAllAvailable()
    q.stop()
    assert [r.alert_type for r in out1] == ["temperature_critical"]

    # restart with the SAME checkpoint and a fresh sink; new file arrives
    out2: list = []
    raw2 = spark.readStream.text(str(src))
    q2 = start_ingest(raw2, [], [lambda df: out2.extend(df.collect())], checkpoint=chk)
    try:
        write_batch(src, "b2.json", [reading_json("01:00", 32.0), reading_json("01:10", 22.0)])
        q2.processAllAvailable()
        # only the post-restart alert: b1 is committed, not replayed; the
        # normal reading emits nothing
        assert [r.alert_type for r in out2] == ["temperature_critical"]
        assert out2[0].actual_value == 32.0
    finally:
        q2.stop()


def test_aggregator_state_survives_restart(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    chk = str(tmp_path / "chk")
    out: list = []

    raw = spark.readStream.text(str(src))
    q = start_aggregator(
        raw,
        sinks=[lambda df: out.extend(df.collect())],
        checkpoint=chk,
        window_duration="4 minutes",
        watermark="1 minute",
    )
    write_batch(src, "b1.json", [reading_json("00:10", 22.0), reading_json("01:10", 28.0)])
    q.processAllAvailable()
    q.stop()
    assert out == []  # window still open at shutdown

    raw2 = spark.readStream.text(str(src))
    q2 = start_aggregator(
        raw2,
        sinks=[lambda df: out.extend(df.collect())],
        checkpoint=chk,
        window_duration="4 minutes",
        watermark="1 minute",
    )
    try:
        # post-restart rows join the PRE-restart window state, then a
        # late-hour row closes it
        write_batch(src, "b2.json", [reading_json("02:10", 31.0)])
        q2.processAllAvailable()
        write_batch(src, "b3.json", [reading_json("10:00", 23.0)])
        q2.processAllAvailable()
        windows = [r for r in out if r.window_start.minute == 0]
        assert len(windows) == 1
        # n=3 proves the restored state store carried b1's two rows
        assert windows[0].n == 3 and windows[0].max_value == 31.0
    finally:
        q2.stop()


class _FailFirstCall:
    """An epoch-aware sink that raises on the first call of
    ``fail_epoch`` and delegates every other call."""

    def __init__(self, inner, fail_epoch: int) -> None:
        self.inner = inner
        self.fail_epoch = fail_epoch
        self.failed = False

    def __call__(self, df, epoch_id):
        if epoch_id == self.fail_epoch and not self.failed:
            self.failed = True
            raise RuntimeError(f"injected alerts-sink failure at epoch {epoch_id}")
        self.inner(df, epoch_id)


def test_ingest_crash_between_sink_sets_replays_exactly_once(spark, tmp_path):
    """The alerts sink fails an epoch after the readings sink wrote it.
    The restarted pipeline replays that epoch on the same checkpoint:
    both epoch-idempotent parquet tables then hold each reading and
    each alert exactly once, the alerts matching DuckDB running the
    same rules over the wire rows."""
    import duckdb

    from iot_sensor_data_pipeline_spark.functions.rules import (
        SENSOR_RULES,
        classification_sql,
    )
    from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "chk")
    readings_t, alerts_t = str(tmp_path / "readings"), str(tmp_path / "alerts")
    lineage = f"{root}/ingest"  # the merged query's checkpoint
    alerts_sink = _FailFirstCall(parquet_batch_sink(alerts_t, checkpoint=lineage), 1)
    values = {"b0.json": [31.0, 22.0, 28.0], "b1.json": [12.0, 27.5, 22.0, 35.0]}

    def pipeline():
        return Pipeline().start_standard_jobs(
            raw_factory=lambda: spark.readStream.text(str(src)),
            checkpoint_root=root,
            readings_sinks=[parquet_batch_sink(readings_t, checkpoint=lineage)],
            alerts_sinks=[alerts_sink],
            agg_sinks=[lambda df: None],
            window_duration="1 minute",
            watermark="30 seconds",
        )

    p = pipeline()
    try:
        for i, (name, vals) in enumerate(values.items()):
            write_batch(src, name, [reading_json(f"0{i}:{j:02d}", v) for j, v in enumerate(vals)])
            if i == 0:
                p.process_all_available()
        with pytest.raises(Exception, match="injected alerts-sink failure"):
            p.process_all_available()
    finally:
        p.stop_all()
    assert alerts_sink.failed
    # the failed epoch's readings landed before its alerts sink failed
    assert spark.read.parquet(readings_t).count() == 7
    assert spark.read.parquet(alerts_t).count() == 2

    p = pipeline()
    try:
        p.process_all_available()
    finally:
        p.stop_all()

    wire = [(r.sensor_id, r.sensor_type, r.unit, r.value, r.timestamp)
            for r in spark.read.parquet(readings_t).collect()]
    sent = [(i, j, v) for i, vals in enumerate(values.values()) for j, v in enumerate(vals)]
    assert sorted((t.minute, t.second, v) for *_, v, t in wire) == sorted(sent)

    con = duckdb.connect()
    con.execute("CREATE TABLE wire (sensor_id VARCHAR, sensor_type VARCHAR, unit VARCHAR, "
                "value DOUBLE, ts TIMESTAMP, battery_level INT, signal_strength INT)")
    con.executemany("INSERT INTO wire VALUES (?, ?, ?, ?, ?, 80, -55)", wire)
    expected = con.execute(
        f"SELECT * FROM (SELECT value, ts, {classification_sql(SENSOR_RULES)} AS alert_type "
        "FROM wire) WHERE alert_type IS NOT NULL"
    ).fetchall()
    con.close()
    got = [(r.actual_value, r.timestamp, r.alert_type)
           for r in spark.read.parquet(alerts_t).collect()]
    assert len(expected) == 5
    assert sorted(got) == sorted(expected)


def test_standard_jobs_refuse_the_split_checkpoint_layout(spark, tmp_path):
    """A checkpoint root left by separate persistence and alerts
    queries is refused before any query starts, naming both old
    directories."""
    root = tmp_path / "chk"
    for job in ("persistence", "alerts"):
        (root / job / "offsets").mkdir(parents=True)
        (root / job / "offsets" / "0").write_text('v1\n{"batchWatermarkMs":0}\n{}\n')
    before = {q.id for q in spark.streams.active}
    p = Pipeline()
    with pytest.raises(RuntimeError) as err:
        p.start_standard_jobs(
            raw_factory=lambda: spark.readStream.text(str(tmp_path)),
            checkpoint_root=str(root),
            readings_sinks=[lambda df: None],
            alerts_sinks=[lambda df: None],
            agg_sinks=[lambda df: None],
        )
    assert f"{root}/persistence" in str(err.value)
    assert f"{root}/alerts" in str(err.value)
    assert p.queries == {}
    assert {q.id for q in spark.streams.active} == before
    assert sorted(os.listdir(root)) == ["alerts", "persistence"]
