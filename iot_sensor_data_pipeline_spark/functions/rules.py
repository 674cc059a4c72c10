"""Rule engine: priority-ordered, first-match-wins alert classification.

The reference hand-writes a 57-line when(...).when(...) chain plus three
more chains for severity/threshold/message (reference
alert_detector.py:100-208, SURVEY.md §2.2 P5-P8). Here rules are DATA:
an ordered list of (alert_type, condition, threshold, message) records.
From that one list the engine generates

- the Spark classification expression (a CASE WHEN chain — Catalyst
  folds/simplifies it exactly like the hand-written version), and
- the equivalent ANSI-SQL text, so an external oracle (DuckDB) can run
  the *same* rules — one source of truth, zero drift.

Semantics preserved exactly (SURVEY.md §2.6): priority order, first
match wins, at most one alert per reading — including the quirk that a
reading with both an env anomaly and a low battery emits only the env
alert (battery/signal rules are unreachable unless all env rules miss).

Scale notes: classification is a pure row-local codegen'd expression —
no shuffle, no state, embarrassingly parallel at any data size. The
rule *attributes* (severity/threshold/message) are derived inline via
generated CASE chains rather than a join: with tens of rules the chain
is constant-folded into codegen, which beats even a broadcast join
(zero exchange, zero hash table).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AlertRule:
    """One classification rule.

    ``condition`` is an ANSI-SQL boolean expression over the input
    columns — valid for both Spark's and DuckDB's parsers.
    """

    alert_type: str
    condition: str
    threshold_value: float
    message: str

    @property
    def severity(self) -> str:
        # parity with reference alert_detector.py:172-175 (P6):
        # severity is derived from the alert_type name
        if "critical" in self.alert_type:
            return "critical"
        if "warning" in self.alert_type:
            return "warning"
        return "info"


#: The reference's exact rule set (SURVEY.md §2.6 table; reference
#: alert_detector.py:102-156 conditions, :177-188 thresholds,
#: :192-202 messages).
SENSOR_RULES: tuple[AlertRule, ...] = (
    AlertRule(
        "temperature_critical",
        "sensor_type = 'temperature' AND unit = 'celsius' AND (value < 15 OR value > 30)",
        30,
        "Température CRITIQUE (>30°C ou <15°C)",
    ),
    AlertRule(
        "temperature_warning",
        "sensor_type = 'temperature' AND unit = 'celsius' AND value > 27",
        27,
        "Température élevée (>27°C)",
    ),
    AlertRule(
        "humidity_critical",
        "sensor_type = 'humidity' AND unit = 'percent' AND (value < 30 OR value > 70)",
        70,
        "Humidité CRITIQUE (<30% ou >70%)",
    ),
    AlertRule(
        "humidity_warning",
        "sensor_type = 'humidity' AND unit = 'percent' AND (value < 35 OR value > 60)",
        60,
        "Humidité anormale (<35% ou >60%)",
    ),
    AlertRule(
        "pressure_critical",
        "sensor_type = 'pressure' AND unit = 'hPa' AND (value < 980 OR value > 1040)",
        1040,
        "Pression atmosphérique anormale (<980 ou >1040 hPa)",
    ),
    AlertRule(
        "pressure_warning",
        "sensor_type = 'pressure' AND unit = 'hPa' AND (value < 995 OR value > 1030)",
        1030,
        "Pression hors plage (<995 ou >1030 hPa)",
    ),
    AlertRule("battery_critical", "battery_level < 20", 20, "Batterie CRITIQUE (<20%)"),
    AlertRule("battery_warning", "battery_level < 40", 40, "Batterie faible (<40%)"),
    AlertRule(
        "weak_signal_critical", "signal_strength < -75", -75, "Signal WiFi IoT faible"
    ),
    AlertRule(
        "weak_signal_warning", "signal_strength < -70", -70, "Signal WiFi IoT faible"
    ),
)


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def classification_sql(rules: tuple[AlertRule, ...]) -> str:
    """CASE WHEN chain assigning alert_type; first match wins."""
    branches = " ".join(
        f"WHEN ({r.condition}) THEN {_sql_str(r.alert_type)}" for r in rules
    )
    return f"CASE {branches} ELSE NULL END"


def attribute_sql(rules: tuple[AlertRule, ...], attr: str, alert_col: str = "alert_type") -> str:
    """CASE mapping alert_type -> one rule attribute (threshold/message/severity)."""
    branches = []
    for r in rules:
        v = getattr(r, attr)
        lit = _sql_str(v) if isinstance(v, str) else repr(v)
        branches.append(f"WHEN {alert_col} = {_sql_str(r.alert_type)} THEN {lit}")
    return f"CASE {' '.join(branches)} ELSE NULL END"


def classify(rules: tuple[AlertRule, ...] = SENSOR_RULES) -> Column:
    """Spark column assigning the first matching rule's alert_type
    (pure expression — attach with ``withColumn`` to any DataFrame
    exposing the columns the rule conditions reference)."""
    return F.expr(classification_sql(rules))


def detect_alerts(
    df: DataFrame,
    rules: tuple[AlertRule, ...] = SENSOR_RULES,
    value_col: str = "value",
    context_cols: tuple[str, ...] = (
        "sensor_id",
        "sensor_type",
        "building",
        "floor",
        "room",
        "timestamp",
        "battery_level",
        "signal_strength",
    ),
    with_audit_cols: bool = True,
) -> DataFrame:
    """Classify readings and keep only alert rows, with the reference's
    17-column alert relation (reference alert_detector.py:158-208).

    Pure narrow transformation — safe for batch and streaming alike.
    """
    audit_cols = []
    if with_audit_cols:
        # resolved against the INPUT df (before the projection below),
        # so context_cols need not include the timestamp column
        triggered = (
            F.col("timestamp").cast("timestamp")
            if "timestamp" in df.columns
            else F.lit(None).cast("timestamp")
        )
        audit_cols = [
            triggered.alias("triggered_at"),
            F.lit(None).cast("timestamp").alias("resolved_at"),
            F.lit("active").alias("status"),
            F.current_timestamp().alias("created_at"),
        ]
    return (
        df.withColumn("alert_type", classify(rules))
        .where(F.col("alert_type").isNotNull())
        .select(
            *context_cols,
            "alert_type",
            F.expr(attribute_sql(rules, "severity")).alias("severity"),
            F.expr(attribute_sql(rules, "threshold_value"))
            .cast("double")
            .alias("threshold_value"),
            F.col(value_col).alias("actual_value"),
            F.expr(attribute_sql(rules, "message")).alias("message"),
            *audit_cols,
        )
    )
