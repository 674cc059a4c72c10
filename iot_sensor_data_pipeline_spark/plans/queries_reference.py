"""Reference-parity queries (SURVEY.md §2) over the driver's `events`
table, which stands in for the sensor stream in batch form
(FIXTURES.md §2: ts = event time, props = JSON payload, event_type +
value drive the rule engine and the windowed agg).

Each query exercises one operator family from the reference:
- P1-P4 JSON parse/flatten        -> events_json_flatten
- P5-P11 rule engine CASE chains  -> events_alert_rules
- F1-F5 filters/predicates        -> events_filter_predicates
- A1-A7 event-time windowed agg   -> events_window_agg (flagship)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.functions.rules import (
    AlertRule,
    attribute_sql,
    classification_sql,
)
from iot_sensor_data_pipeline_spark.operators.window_agg import windowed_agg
from iot_sensor_data_pipeline_spark.plans.registry import register, register_extended
from iot_sensor_data_pipeline_spark.schema import EVENT_PROPS_SCHEMA
from iot_sensor_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# A1-A7: event-time tumbling-window aggregation (the reference aggregator,
# data_agregator.py:74-95, in batch form). Flagship query.
# ---------------------------------------------------------------------------

_WINDOW_AGG_ORACLE = """
SELECT
  time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
  time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
  event_type,
  round(avg(value), 4)                                 AS avg_value,
  min(value)                                           AS min_value,
  max(value)                                           AS max_value,
  count(*)                                             AS n
FROM events
GROUP BY 1, 2, 3
"""


@register("events_window_agg", oracle=_WINDOW_AGG_ORACLE, tags=("reference", "A1-A7"), bench=True)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window x event_type -> avg/min/max/count."""
    events = load_table(spark, sf_dir, "events")
    return windowed_agg(
        events,
        ts_col="ts",
        keys=["event_type"],
        value_col="value",
        window_duration="1 hour",
        round_avg=4,
    )


# ---------------------------------------------------------------------------
# A2 variant: SLIDING window (reference only has tumbling; SURVEY.md §2.4
# lists sliding windows as a gap the new engine fills). Each row belongs
# to width/slide consecutive windows; the oracle replicates Spark's
# epoch-aligned window assignment by exploding each row into its
# width/slide buckets.
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = """
WITH exploded AS (
  SELECT
    event_type, value,
    time_bucket(INTERVAL '30 minutes', ts) - (t.i * INTERVAL '30 minutes') AS window_start
  FROM events
  CROSS JOIN (SELECT range AS i FROM range(0, 2)) t
)
SELECT
  window_start,
  window_start + INTERVAL '1 hour' AS window_end,
  event_type,
  round(avg(value), 4) AS avg_value,
  count(*)             AS n
FROM exploded
GROUP BY 1, 2, 3
"""


@register_extended(  # rotated OUT of the gate in r12 (third r12 rotation)
    "events_sliding_window_agg", oracle=_SLIDING_ORACLE,
    tags=("streaming-parity", "A2"),
)
def events_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes x event_type."""
    events = load_table(spark, sf_dir, "events")
    return windowed_agg(
        events,
        ts_col="ts",
        keys=["event_type"],
        value_col="value",
        window_duration="1 hour",
        slide_duration="30 minutes",
        aggs=("avg", "count"),
        round_avg=4,
    )


# ---------------------------------------------------------------------------
# P1-P4: JSON schema-on-read parse + flatten (data_persistance.py:75-89).
# `props` is the JSON payload column; PERMISSIVE nulls on corrupt input.
# ---------------------------------------------------------------------------

_JSON_FLATTEN_ORACLE = """
SELECT
  event_id,
  event_type,
  CAST(props->>'k' AS INTEGER) AS k
FROM events
"""


@register_extended("events_json_flatten", oracle=_JSON_FLATTEN_ORACLE, tags=("reference", "P1-P4"))
def events_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read: parse the props JSON string, flatten field k."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "event_type",
        F.from_json(F.col("props"), EVENT_PROPS_SCHEMA).getField("k").alias("k"),
    )


# ---------------------------------------------------------------------------
# P5-P11: the rule engine, instantiated on events. Same machinery as the
# sensor rules (functions/rules.py, reference alert_detector.py:100-208);
# the SQL text below is GENERATED from the same rule records Spark runs,
# so both engines execute identical rule semantics.
# ---------------------------------------------------------------------------

EVENT_RULES: tuple[AlertRule, ...] = (
    AlertRule("error_critical", "event_type = 'error' AND value > 150", 150, "Error volume critical"),
    AlertRule("error_warning", "event_type = 'error' AND value > 80", 80, "Error volume elevated"),
    AlertRule("purchase_critical", "event_type = 'purchase' AND (value < 5 OR value > 180)", 180, "Purchase value anomalous"),
    AlertRule("purchase_warning", "event_type = 'purchase' AND value > 150", 150, "Purchase value high"),
    AlertRule("signup_spike", "event_type = 'signup' AND value > 120", 120, "Signup burst"),
    AlertRule("click_floor", "event_type = 'click' AND value < 2", 2, "Click value floor"),
)


def _alerts_oracle(rules: tuple[AlertRule, ...]) -> str:
    return f"""
WITH classified AS (
  SELECT event_id, event_type, user_id, value,
         {classification_sql(rules)} AS alert_type
  FROM events
)
SELECT
  event_id, event_type, user_id,
  alert_type,
  {attribute_sql(rules, "severity")} AS severity,
  CAST({attribute_sql(rules, "threshold_value")} AS DOUBLE) AS threshold_value,
  value AS actual_value,
  {attribute_sql(rules, "message")} AS message
FROM classified
WHERE alert_type IS NOT NULL
"""


@register("events_alert_rules", oracle=_alerts_oracle(EVENT_RULES), tags=("reference", "P5-P11", "F1"))
def events_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match-wins rule classification + attribute derivation."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("alert_type", F.expr(classification_sql(EVENT_RULES)))
        .where(F.col("alert_type").isNotNull())
        .select(
            "event_id",
            "event_type",
            "user_id",
            "alert_type",
            F.expr(attribute_sql(EVENT_RULES, "severity")).alias("severity"),
            F.expr(attribute_sql(EVENT_RULES, "threshold_value"))
            .cast("double")
            .alias("threshold_value"),
            F.col("value").alias("actual_value"),
            F.expr(attribute_sql(EVENT_RULES, "message")).alias("message"),
        )
    )


# ---------------------------------------------------------------------------
# F1-F5: filter/predicate surface (comparisons, boolean algebra, LIKE,
# IN-set, null checks) in one query (reference alert_detector.py:107-157,
# gestionnaire_mail.py:80-81).
# ---------------------------------------------------------------------------

_FILTER_ORACLE = """
SELECT event_id, event_type, user_id, value
FROM events
WHERE event_type IN ('purchase', 'error')
  AND (value > 100 OR (value < 10 AND user_id % 2 = 0))
  AND event_type LIKE '%r%'
  AND value IS NOT NULL
"""


@register_extended("events_filter_predicates", oracle=_FILTER_ORACLE, tags=("reference", "F1-F5"))
def events_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite predicate: isin + comparison + boolean algebra + LIKE."""
    events = load_table(spark, sf_dir, "events")
    return events.select("event_id", "event_type", "user_id", "value").where(
        F.col("event_type").isin("purchase", "error")
        & (
            (F.col("value") > 100)
            | ((F.col("value") < 10) & (F.col("user_id") % 2 == 0))
        )
        & F.col("event_type").like("%r%")
        & F.col("value").isNotNull()
    )


# ---------------------------------------------------------------------------
# Throughput proxy: the reference's hot path (JSON wire -> parse ->
# flatten -> rule engine) over generated messages. The reference's
# simulator offers ~8 msg/s (BASELINE.md); this runs the identical
# transform shape over 200k messages per bench invocation, so the
# BENCH json directly reports ingest+classify throughput.
# ---------------------------------------------------------------------------


@register("sensor_wire_ingest_alerts", oracle=None, tags=("reference", "throughput"), bench=True)
def sensor_wire_ingest_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """200k synthetic wire messages through ingest + alert detection
    (batch mode of the streaming jobs' exact transforms). Rows-only:
    the rule semantics are oracle-checked on `events` and unit-tested
    on the golden scenario; this entry exists to measure the path."""
    from iot_sensor_data_pipeline_spark.functions.rules import detect_alerts
    from iot_sensor_data_pipeline_spark.sources.json_ingest import ingest_readings
    from iot_sensor_data_pipeline_spark.sources.synthetic import reading_batch

    # localCheckpoint (lazy) on the wire relation: without it the
    # optimizer pushes detect_alerts' isNotNull(CASE...) filter below
    # the ingest projection, duplicating the ENTIRE
    # from_json(to_json(<generator arithmetic>)) chain into a
    # non-codegen Filter — a 120 KB doubled expression tree whose
    # Catalyst planning alone cost ~1 s per invocation (an 0.2 s job at
    # 1k rows ran in 1.0 s) and whose scaling ratio bottomed the suite
    # at 0.56. Cutting lineage at the wire strings makes the generator
    # plan and the parse+classify plan each small; measured 1.39 s ->
    # 0.70 s at <3% host steal, identical 1419 alert rows. The
    # streaming jobs keep the uncut transform (checkpoints are
    # batch-only); this is the batch throughput proxy.
    wire = (
        reading_batch(spark, 200_000)
        .select(F.to_json(F.struct("*")).alias("value"))
        .localCheckpoint(eager=False)
    )
    return detect_alerts(ingest_readings(wire))


# ---------------------------------------------------------------------------
# Composition: the reference's full dataflow in ONE query — parse (P2),
# classify (P5), filter (F1), window-aggregate (A2-A5). Alert counts
# per hour per alert type.
# ---------------------------------------------------------------------------

_ALERTS_PER_WINDOW_ORACLE = f"""
WITH classified AS (
  SELECT ts, value, {classification_sql(EVENT_RULES)} AS alert_type
  FROM events
)
SELECT
  time_bucket(INTERVAL '1 hour', ts)    AS window_start,
  alert_type,
  count(*)                              AS n_alerts,
  round(avg(value), 4)                  AS avg_actual
FROM classified
WHERE alert_type IS NOT NULL
GROUP BY 1, 2
"""


@register("events_alerts_per_window", oracle=_ALERTS_PER_WINDOW_ORACLE, tags=("reference", "composition"))
def events_alerts_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule engine composed with windowed aggregation — the alert-rate
    dashboard query (and the shape of the reference's whole pipeline
    as one batch plan)."""
    events = load_table(spark, sf_dir, "events")
    classified = events.withColumn(
        "alert_type", F.expr(classification_sql(EVENT_RULES))
    ).where(F.col("alert_type").isNotNull())
    return (
        classified.groupBy(F.window("ts", "1 hour").alias("w"), "alert_type")
        .agg(
            F.count(F.lit(1)).alias("n_alerts"),
            F.round(F.avg("value"), 4).alias("avg_actual"),
        )
        .select(F.col("w.start").alias("window_start"), "alert_type", "n_alerts", "avg_actual")
    )


# ---------------------------------------------------------------------------
# Alert lifecycle: resolve_alerts (streaming/stateful.py) in batch form.
# The reference never resolves alerts (alert_detector.py:205 writes
# resolved_at = NULL forever); here recovery/changed transitions close
# out active alerts. Transitions are derived with a deterministic
# lag-over-(ts, event_id) window.
# ---------------------------------------------------------------------------

_RESOLVE_ORACLE = f"""
WITH classified AS (
  SELECT event_id, user_id AS sensor_id, ts, value,
         {classification_sql(EVENT_RULES)} AS alert_type
  FROM events
), seq AS (
  SELECT *, lag(alert_type) OVER (PARTITION BY sensor_id ORDER BY ts, event_id) AS prev_alert
  FROM classified
), closes AS (
  SELECT sensor_id, CAST(max(ts) AS TIMESTAMP) AS close_ts
  FROM seq
  WHERE prev_alert IS NOT NULL AND alert_type IS DISTINCT FROM prev_alert
  GROUP BY sensor_id
)
SELECT
  c.event_id,
  c.sensor_id,
  c.alert_type,
  CAST(c.ts AS TIMESTAMP) AS triggered_at,
  CASE WHEN cl.close_ts IS NOT NULL AND CAST(c.ts AS TIMESTAMP) <= cl.close_ts
       THEN 'resolved' ELSE 'active' END AS status,
  CASE WHEN cl.close_ts IS NOT NULL AND CAST(c.ts AS TIMESTAMP) <= cl.close_ts
       THEN cl.close_ts END AS resolved_at
FROM classified c LEFT JOIN closes cl USING (sensor_id)
WHERE c.alert_type IS NOT NULL
"""


@register("events_resolve_alerts", oracle=_RESOLVE_ORACLE, tags=("reference", "lifecycle"))
def events_resolve_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch alert-resolution: classify events per user ("sensor"),
    derive alert-state transitions via lag, then run the
    resolve_alerts operator — active alerts whose sensor later
    recovered (or changed alert type) get resolved_at/status set."""
    from pyspark.sql import Window

    from iot_sensor_data_pipeline_spark.streaming.stateful import resolve_alerts

    events = load_table(spark, sf_dir, "events")
    classified = events.select(
        "event_id",
        F.col("user_id").alias("sensor_id"),
        "ts",
        F.expr(classification_sql(EVENT_RULES)).alias("alert_type"),
    )
    w = Window.partitionBy("sensor_id").orderBy("ts", "event_id")
    seq = classified.withColumn("prev_alert", F.lag("alert_type").over(w))
    transitions = seq.where(
        ~F.col("alert_type").eqNullSafe(F.col("prev_alert"))
    ).select(
        "sensor_id",
        F.col("ts").alias("timestamp"),
        F.when(F.col("prev_alert").isNull(), "raised")
        .when(F.col("alert_type").isNull(), "recovered")
        .otherwise("changed")
        .alias("transition"),
    )
    alerts_table = classified.where(F.col("alert_type").isNotNull()).select(
        "event_id",
        "sensor_id",
        "alert_type",
        F.col("ts").alias("triggered_at"),
        F.lit("active").alias("status"),
        F.lit(None).cast("timestamp_ntz").alias("resolved_at"),
    )
    return resolve_alerts(alerts_table, transitions)
