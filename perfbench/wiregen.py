"""Seeded sensor wire generator, owned by the benchmark.

Reproduces the reference simulator's fleet layout (one building x 2
floors x 4 rooms x 3 sensor types, one full fleet sweep every 3 s) and
its anomaly rates (FIXTURES.md section 1), and renders each reading as
the simulator's wire JSON, one object per line, into a pre-written
backlog of files whose event time starts at a fixed instant and spans
hours to days. It shares no code with the program's own synthetic
source, so the program is measured only on inputs it did not make.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import numpy as np

FLOORS = (1, 2)
ROOMS = ("100", "101", "102", "103")
TYPES = ("temperature", "humidity", "pressure")
UNITS = {"temperature": "celsius", "humidity": "percent", "pressure": "hPa"}
SWEEP_S = 3.0

#: (base, amplitude, noise) of each type's normal sinusoid
NORMAL = {
    "temperature": (22.5, 2.0, 0.5),
    "humidity": (47.5, 6.0, 1.5),
    "pressure": (1015.0, 4.0, 1.0),
}
#: (critical rate, warning rate, critical range, warning range)
VALUE_ANOMALY = {
    "temperature": (0.001, 0.003, (30.5, 35.0), (27.5, 29.9)),
    "humidity": (0.001, 0.003, (71.0, 80.0), (61.0, 69.0)),
    "pressure": (0.0015, 0.0035, (1041.0, 1050.0), (1031.0, 1039.0)),
}
BATTERY = (0.001, 0.002, (5, 19), (20, 39), (40, 100))
SIGNAL = (0.002, 0.004, (-90, -76), (-75, -71), (-70, -40))


def fleet() -> list[tuple[str, str, str, int, str]]:
    """(sensor_id, sensor_type, building, floor, room) of each of the
    reference's 24 sensors, in building "A"."""
    return [(f"A_{floor}_{room}_{typ}", typ, "A", floor, room)
            for floor in FLOORS for room in ROOMS for typ in TYPES]


def _draw(rng, n: int, crit: float, warn: float, crit_rng, warn_rng, normal):
    u = rng.random(n)
    v = np.where(
        u < crit,
        rng.uniform(*crit_rng, n),
        np.where(u < crit + warn, rng.uniform(*warn_rng, n), normal),
    )
    return v


def readings(seed: int, sensors: list, n_sweeps: int, t0: float) -> list[tuple]:
    """``n_sweeps`` full fleet sweeps starting at epoch second ``t0``,
    ordered by due time: (due_s, sensor index, value, battery, signal)."""
    rng = np.random.default_rng(seed)
    n_s = len(sensors)
    n = n_s * n_sweeps
    idx = np.tile(np.arange(n_s), n_sweeps)
    sweep = np.repeat(np.arange(n_sweeps), n_s)
    due = t0 + sweep * SWEEP_S + idx * (SWEEP_S / n_s)
    types = np.array([TYPES.index(s[1]) for s in sensors])[idx]
    phase = rng.uniform(0, 2 * np.pi, n_s)[idx]
    value = np.empty(n)
    for k, typ in enumerate(TYPES):
        m = types == k
        cnt = int(m.sum())
        base, amp, noise = NORMAL[typ]
        normal = (
            base
            + amp * np.sin(phase[m] + 2 * np.pi * (due[m] - t0) / 3600.0)
            + rng.uniform(-noise, noise, cnt)
        )
        crit, warn, crng, wrng = VALUE_ANOMALY[typ]
        value[m] = _draw(rng, cnt, crit, warn, crng, wrng, normal)
    value = np.round(value, 2)
    bc, bw, bcr, bwr, bnr = BATTERY
    battery = _draw(
        rng, n, bc, bw, (bcr[0], bcr[1] + 1), (bwr[0], bwr[1] + 1),
        rng.integers(bnr[0], bnr[1] + 1, n),
    )
    battery = np.floor(battery).astype(np.int64)
    sc, sw, scr, swr, snr = SIGNAL
    signal = _draw(
        rng, n, sc, sw, (scr[0], scr[1] + 1), (swr[0], swr[1] + 1),
        rng.integers(snr[0], snr[1] + 1, n),
    )
    signal = np.floor(signal).astype(np.int64)
    return list(zip(due.tolist(), idx.tolist(), value.tolist(),
                    battery.tolist(), signal.tolist()))


class Renderer:
    """Renders readings as the simulator's wire JSON (ISO-8601 UTC event
    time, millisecond precision), caching each sensor's fixed fields."""

    def __init__(self, sensors: list) -> None:
        self.prefix = [
            f'{{"sensor_id": "{sid}", "sensor_type": "{typ}", '
            f'"location": {{"building": "{b}", "floor": {fl}, "room": "{room}"}}, '
            for sid, typ, b, fl, room in sensors
        ]
        self.unit = [UNITS[s[1]] for s in sensors]
        self._sec: dict[int, str] = {}

    def _iso(self, due: float) -> str:
        ms = int(round(due * 1000))
        sec, frac = divmod(ms, 1000)
        base = self._sec.get(sec)
        if base is None:
            base = datetime.fromtimestamp(sec, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
            self._sec[sec] = base
        return f"{base}.{frac:03d}"

    def __call__(self, due: float, i: int, value: float, battery: int, signal: int) -> str:
        return (
            f'{self.prefix[i]}"timestamp": "{self._iso(due)}", "value": {value!r}, '
            f'"unit": "{self.unit[i]}", "metadata": {{"battery_level": {battery}, '
            f'"signal_strength": {signal}}}}}'
        )


def write_atomic(path: str, lines: list[str]) -> None:
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")  # dot-prefixed: the file source skips it
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.rename(tmp, path)


#: event time of the backlog's first reading (2026-01-01T00:00:00Z)
BACKLOG_T0 = 1767225600.0


def backlog(out_dir: str, seed: int, n_events: int, n_files: int,
            t0: float = BACKLOG_T0) -> int:
    """Write a backlog of about ``n_events`` readings of the reference's
    24-sensor fleet, starting at event time ``t0``, into ``n_files``
    files whose modification times increase with their event time, so
    the file source takes them in event-time order. Returns the number
    of readings written."""
    sensors = fleet()
    n_sweeps = max(1, n_events // len(sensors))
    rows = readings(seed, sensors, n_sweeps, t0)
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    render = Renderer(sensors)
    mtime = time.time() - n_files - 60
    for k in range(n_files):
        chunk = rows[k * per:(k + 1) * per]
        if not chunk:
            break
        path = os.path.join(out_dir, f"b{k:05d}.json")
        write_atomic(path, [render(*r) for r in chunk])
        os.utime(path, (mtime + k, mtime + k))
    return len(rows)
