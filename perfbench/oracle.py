"""DuckDB oracle for the stream workloads.

Everything expected is derived from the wire files the generator wrote,
never from the program: the readings the persistence job must hold
exactly once, the alerts the reference rule table (SURVEY.md section
2.6, restated below as SQL) fires, and avg/min/max/count of every
window the watermark has closed. A failure is one event lost or
duplicated, or one alert or window missing, extra or wrong.
"""

from __future__ import annotations

import duckdb

#: the reference's rule table: priority order, first match wins
ALERT_CASE = """CASE
  WHEN sensor_type = 'temperature' AND unit = 'celsius' AND (value < 15 OR value > 30) THEN 'temperature_critical'
  WHEN sensor_type = 'temperature' AND unit = 'celsius' AND value > 27 THEN 'temperature_warning'
  WHEN sensor_type = 'humidity' AND unit = 'percent' AND (value < 30 OR value > 70) THEN 'humidity_critical'
  WHEN sensor_type = 'humidity' AND unit = 'percent' AND (value < 35 OR value > 60) THEN 'humidity_warning'
  WHEN sensor_type = 'pressure' AND unit = 'hPa' AND (value < 980 OR value > 1040) THEN 'pressure_critical'
  WHEN sensor_type = 'pressure' AND unit = 'hPa' AND (value < 995 OR value > 1030) THEN 'pressure_warning'
  WHEN battery_level < 20 THEN 'battery_critical'
  WHEN battery_level < 40 THEN 'battery_warning'
  WHEN signal_strength < -75 THEN 'weak_signal_critical'
  WHEN signal_strength < -70 THEN 'weak_signal_warning'
END"""

RULES = """(VALUES
  ('temperature_critical', 'critical', 30.0, 'Température CRITIQUE (>30°C ou <15°C)'),
  ('temperature_warning', 'warning', 27.0, 'Température élevée (>27°C)'),
  ('humidity_critical', 'critical', 70.0, 'Humidité CRITIQUE (<30% ou >70%)'),
  ('humidity_warning', 'warning', 60.0, 'Humidité anormale (<35% ou >60%)'),
  ('pressure_critical', 'critical', 1040.0, 'Pression atmosphérique anormale (<980 ou >1040 hPa)'),
  ('pressure_warning', 'warning', 1030.0, 'Pression hors plage (<995 ou >1030 hPa)'),
  ('battery_critical', 'critical', 20.0, 'Batterie CRITIQUE (<20%)'),
  ('battery_warning', 'warning', 40.0, 'Batterie faible (<40%)'),
  ('weak_signal_critical', 'critical', -75.0, 'Signal WiFi IoT faible'),
  ('weak_signal_warning', 'warning', -70.0, 'Signal WiFi IoT faible')
) AS r(alert_type, severity, threshold_value, message)"""

READING_COLS = ("sensor_id, sensor_type, value, unit, ts_us, building, floor, room, "
                "battery_level, signal_strength")
ALERT_COLS = (READING_COLS + ", alert_type, severity, threshold_value, message, "
              "status, triggered_us")
WINDOW_KEY = "sensor_id, sensor_type, ws_us, we_us"

def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def register_wire(con, wire_glob: str) -> None:
    """View ``wire``: the flat readings in the generator's files."""
    con.execute(f"""
        CREATE OR REPLACE VIEW wire AS
        SELECT sensor_id, sensor_type, value, unit,
               epoch_us(CAST("timestamp" AS TIMESTAMP)) AS ts_us,
               location.building AS building, location.floor AS floor,
               location.room AS room, metadata.battery_level AS battery_level,
               metadata.signal_strength AS signal_strength
        FROM read_json('{wire_glob}', format = 'newline_delimited', columns = {{
            sensor_id: 'VARCHAR', sensor_type: 'VARCHAR',
            location: 'STRUCT(building VARCHAR, floor INTEGER, room VARCHAR)',
            "timestamp": 'VARCHAR', value: 'DOUBLE', unit: 'VARCHAR',
            metadata: 'STRUCT(battery_level INTEGER, signal_strength INTEGER)'}})
    """)


def register_table(con, name: str, table_dir: str) -> None:
    """View ``name`` over a sink table's parquet files."""
    con.execute(f"""
        CREATE OR REPLACE VIEW {name} AS
        SELECT * FROM read_parquet('{table_dir}/**/*.parquet', union_by_name = true)
    """)


def _multiset_diff(con, expected: str, actual: str, cols: str) -> int:
    """Rows missing from ``actual`` plus rows extra in it, as multisets."""
    return con.execute(f"""
        WITH e AS (SELECT {cols}, count(*) AS c FROM ({expected}) GROUP BY ALL),
             a AS (SELECT {cols}, count(*) AS c FROM ({actual}) GROUP BY ALL)
        SELECT coalesce(sum(abs(coalesce(e.c, 0) - coalesce(a.c, 0))), 0)
        FROM e FULL OUTER JOIN a USING ({cols})
    """).fetchone()[0]


def check_readings(con) -> tuple[int, int]:
    """(events expected, events lost or duplicated) in ``readings``."""
    n = con.execute("SELECT count(*) FROM wire").fetchone()[0]
    actual = f"""SELECT sensor_id, sensor_type, value, unit, epoch_us("timestamp") AS ts_us,
                        building, floor, room, battery_level, signal_strength FROM readings"""
    return n, int(_multiset_diff(con, "SELECT * FROM wire", actual, READING_COLS))


def expected_alerts_sql() -> str:
    return f"""
        SELECT w.*, r.severity, r.threshold_value, r.message,
               'active' AS status, w.ts_us AS triggered_us
        FROM (SELECT *, {ALERT_CASE} AS alert_type FROM wire) w
        JOIN {RULES} USING (alert_type)"""


def check_alerts(con) -> tuple[int, int]:
    """(alerts expected, alerts missing, extra or wrong) in ``alerts``."""
    expected = expected_alerts_sql()
    n = con.execute(f"SELECT count(*) FROM ({expected})").fetchone()[0]
    actual = f"""SELECT sensor_id, sensor_type, actual_value AS value,
                        CASE sensor_type WHEN 'temperature' THEN 'celsius'
                             WHEN 'humidity' THEN 'percent' ELSE 'hPa' END AS unit,
                        epoch_us("timestamp") AS ts_us, building, floor, room,
                        battery_level, signal_strength, alert_type, severity,
                        threshold_value, message, status, epoch_us(triggered_at) AS triggered_us
                 FROM alerts"""
    return n, int(_multiset_diff(con, expected, actual, ALERT_COLS))


def check_windows(con, window_us: int, watermark_us: int) -> tuple[int, int]:
    """(windows expected, windows missing, extra or wrong) in ``windows``.

    Expected: every (sensor, window) whose end is at or below the
    watermark of the aggregator's last batch (append mode has emitted
    exactly those). avg is compared to 1e-9 relative; the rest exactly."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE exp_w AS
        SELECT sensor_id, sensor_type, ws_us, ws_us + {window_us} AS we_us,
               avg(value) AS avg_value, min(value) AS min_value,
               max(value) AS max_value, count(*) AS n
        FROM (SELECT *, ts_us - (ts_us % {window_us}) AS ws_us FROM wire)
        GROUP BY sensor_id, sensor_type, ws_us
        HAVING ws_us + {window_us} <= {watermark_us}
    """)
    n = con.execute("SELECT count(*) FROM exp_w").fetchone()[0]
    bad = con.execute(f"""
        WITH a AS (SELECT sensor_id, sensor_type, epoch_us(window_start) AS ws_us,
                          epoch_us(window_end) AS we_us, avg_value, min_value,
                          max_value, n FROM windows)
        SELECT count(*) FROM exp_w e FULL OUTER JOIN a USING ({WINDOW_KEY})
        WHERE e.n IS NULL OR a.n IS NULL OR e.n <> a.n
           OR e.min_value <> a.min_value OR e.max_value <> a.max_value
           OR abs(e.avg_value - a.avg_value) > 1e-9 * greatest(1.0, abs(e.avg_value))
    """).fetchone()[0]
    dup = con.execute("""
        SELECT count(*) - count(DISTINCT (sensor_id, sensor_type, window_start, window_end))
        FROM windows""").fetchone()[0]
    return n, int(bad + dup)
