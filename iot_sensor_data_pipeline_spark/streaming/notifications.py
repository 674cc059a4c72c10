"""Notification sink (K5 in SURVEY.md §2.5).

The reference runs a separate kafka-python consumer that opens an SMTP
connection at import time and sends one email per alert row
(reference gestionnaire_mail.py:27,28-74,80-82). Here notification is
just another foreachBatch sink on the alert stream: in-process,
checkpointed with the query, restart-safe, and testable with a fake
transport. Severity filtering (the reference's F5) and the message
format are preserved.

SMTP I/O happens on the DRIVER via collect() — notification batches
are tiny (post-filter); a side-effecting sink must not
run inside executors where retries would duplicate sends per partition
attempt.
"""

from __future__ import annotations

import smtplib
from collections.abc import Callable, Sequence
from email.mime.text import MIMEText

from pyspark.sql import DataFrame, Row

#: severities that notify (reference gestionnaire_mail.py:80-82)
NOTIFY_SEVERITIES = ("critical", "warning")


def format_alert_body(alert: Row) -> str:
    """Human-readable alert body (parity with the reference's email
    fields: sensor, location, type, severity, threshold vs actual,
    optional battery/signal lines — gestionnaire_mail.py:28-74)."""
    lines = [
        f"Alerte {alert['severity'].upper()} — {alert['alert_type']}",
        f"Capteur : {alert['sensor_id']} ({alert['sensor_type']})",
        f"Localisation : bâtiment {alert['building']}, étage {alert['floor']}, salle {alert['room']}",
        f"Message : {alert['message']}",
        f"Valeur mesurée : {alert['actual_value']} (seuil : {alert['threshold_value']})",
        f"Horodatage : {alert['timestamp']}",
    ]
    battery = alert["battery_level"] if "battery_level" in alert.__fields__ else None
    signal = alert["signal_strength"] if "signal_strength" in alert.__fields__ else None
    if battery is not None and battery < 40:
        lines.append(f"Batterie : {battery}%")
    if signal is not None and signal < -70:
        lines.append(f"Signal : {signal} dBm")
    return "\n".join(lines)


def format_alert_subject(alert: Row) -> str:
    return f"[IoT {alert['severity'].upper()}] {alert['sensor_id']}: {alert['alert_type']}"


def smtp_transport(
    host: str,
    port: int,
    sender: str,
    recipients: Sequence[str],
    username: str | None = None,
    password: str | None = None,
    use_tls: bool | None = None,
):
    """Real SMTP transport — connects PER BATCH (not at import time,
    unlike the reference's module-level connection).

    When credentials are given (or ``use_tls`` is forced) the session
    upgrades via STARTTLS before LOGIN — parity with the reference's
    port-587 deployment (gestionnaire_mail.py:22-26 does
    starttls()+login()); without them it stays a plain relay (the
    localhost-smarthost case)."""
    recipients = [r for r in recipients if r]
    if not recipients:
        raise ValueError("smtp_transport: at least one non-empty recipient required")
    if use_tls is None:
        use_tls = username is not None

    def send(subject: str, body: str) -> None:
        msg = MIMEText(body, "plain", "utf-8")
        msg["Subject"] = subject
        msg["From"] = sender
        msg["To"] = ", ".join(recipients)
        with smtplib.SMTP(host, port, timeout=10) as smtp:
            if use_tls:
                smtp.starttls()
            if username is not None:
                smtp.login(username, password or "")
            smtp.sendmail(sender, list(recipients), msg.as_string())

    return send


def notification_sink(
    transport: Callable[[str, str], None],
    severities: Sequence[str] = NOTIFY_SEVERITIES,
    max_per_batch: int = 100,
):
    """foreachBatch sink: filter by severity, format, send via
    ``transport``. ``max_per_batch`` caps a pathological batch from
    paging a human hundreds of times (overflow is summarized)."""
    from pyspark.sql import functions as F

    def sink(batch_df: DataFrame) -> None:
        alerts = (
            batch_df.where(F.col("severity").isin(*severities))
            .limit(max_per_batch + 1)
            .collect()
        )
        overflow = len(alerts) > max_per_batch
        for alert in alerts[:max_per_batch]:
            transport(format_alert_subject(alert), format_alert_body(alert))
        if overflow:
            transport(
                "[IoT] alert volume overflow",
                f"More than {max_per_batch} alerts in one batch; see the alerts table.",
            )

    return sink
