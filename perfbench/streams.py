"""The ``sensor_backfill`` workload: the program's three sensor jobs,
started through ``Pipeline.start_standard_jobs`` with one checkpointed
``parquet_batch_sink`` each, drain a pre-written backlog of wire-JSON
text files from the reference's 24-sensor fleet at a fixed
``maxFilesPerTrigger``, with the reference's 4 min window and 1 min
watermark. One ``Pipeline.maintain`` tick then runs over the readings
table and a per-sensor tracked materialized view.

Each sink is wrapped by the benchmark to record when each of its calls
started and returned.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import numpy as np

import common
import oracle
import wiregen

JOBS = ("persistence", "alerts", "aggregator")
TABLE = {"persistence": "readings", "alerts": "alerts", "aggregator": "windows"}

#: backlog readings per second of --seconds, 20,000 to a file; at
#: --seconds 20 each job reads the backlog in four batches of 5 files
BACKFILL_EVENTS_PER_S = 20_000
BACKFILL_FILE_EVENTS = 20_000
BACKFILL_MAX_FILES = 5
BACKFILL_WINDOW_S, BACKFILL_WATERMARK_S = 240, 60
#: one warm-up batch per job, of one backlog file's size
BACKFILL_WARM_EVENTS = 20_000


class TimedSink:
    """A job's sink, wrapped to record (start, return) of each call by
    epoch. Takes the epoch id, so the fan-out keeps passing it on."""

    def __init__(self, inner, job: str, tracer: common.Tracer) -> None:
        self.inner = inner
        self.job = job
        self.tracer = tracer
        self.calls: dict[int, tuple[float, float]] = {}

    def __call__(self, batch_df, epoch_id=None) -> None:
        t0 = time.time()
        self.inner(batch_df, epoch_id)
        t1 = time.time()
        self.calls[epoch_id] = (t0, t1)
        self.tracer.add(f"sink.{self.job}", t0, t1, epoch=epoch_id)

    def call_ms(self, since: float) -> float:
        """Time in the calls that returned after epoch second ``since``."""
        return sum(b - a for a, b in self.calls.values() if b > since) * 1000.0


class Streams:
    """The three jobs over the directories in one text-file source
    directory, reading at most ``max_files`` files per trigger."""

    def __init__(self, spark, root: str, tracer: common.Tracer, window_s: int,
                 watermark_s: int, max_files: int) -> None:
        from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink
        from iot_sensor_data_pipeline_spark.streaming.orchestrator import Pipeline

        self.root = root
        self.src = os.path.join(root, "src")
        os.makedirs(self.src, exist_ok=True)
        self.sinks = {
            j: TimedSink(parquet_batch_sink(self.table(j), checkpoint=self.ckpt(j)), j, tracer)
            for j in JOBS
        }

        def raw():
            return (spark.readStream.format("text").option("maxFilesPerTrigger", max_files)
                    .load(os.path.join(self.src, "*")))

        self.pipeline = Pipeline().start_standard_jobs(
            raw, os.path.join(root, "ckpt"),
            [self.sinks["persistence"]], [self.sinks["alerts"]], [self.sinks["aggregator"]],
            window_duration=f"{window_s} seconds", watermark=f"{watermark_s} seconds",
        )

    def table(self, job: str) -> str:
        return os.path.join(self.root, "tables", TABLE[job])

    def ckpt(self, job: str) -> str:
        return os.path.join(self.root, "ckpt", job)

    def drain(self) -> None:
        for q in self.pipeline.queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        """Stop once no trigger is running, so no batch is cut short."""
        deadline = time.monotonic() + 10
        quiet = 0
        while quiet < 2 and time.monotonic() < deadline:
            busy = any(q.status["isTriggerActive"] for q in self.pipeline.queries.values())
            quiet = 0 if busy else quiet + 1
            time.sleep(0.1)
        self.pipeline.stop_all()

    def committed(self, job: str) -> set[int]:
        """Batch ids the job's checkpoint records as committed."""
        d = os.path.join(self.ckpt(job), "commits")
        return {int(f) for f in os.listdir(d) if f.isdigit()} if os.path.isdir(d) else set()

    def last_watermark_us(self) -> int:
        """The watermark the aggregator's last committed batch ran with."""
        last = max(self.committed("aggregator"))
        with open(os.path.join(self.ckpt("aggregator"), "offsets", str(last))) as fh:
            meta = json.loads(fh.read().splitlines()[1])
        return int(meta["batchWatermarkMs"]) * 1000

    def register(self, con) -> None:
        for j in JOBS:
            oracle.register_table(con, TABLE[j], self.table(j))

    def progress(self, job: str, since: float) -> list[dict]:
        """The job's data batches (rows read, or a sink call) that
        ended after epoch second ``since``. A trigger that started
        shortly before ``since`` may still list the files added then."""
        return [p for p in self.pipeline.queries[job].recentProgress
                if (p["numInputRows"] or p["durationMs"].get("addBatch"))
                and _batch_end(p) > since]

    def progress_layers(self, since: float, files_before: dict[str, dict[str, int]]) -> dict[str, float]:
        """Per-job figures of the batches since ``since``, from
        ``StreamingQuery.recentProgress``, the sink wrappers and a
        listing of the sink tables against ``files_before``."""
        out: dict[str, float] = {}
        for j in JOBS:
            prog = self.progress(j, since)

            def d(key: str) -> float:
                return float(sum(p["durationMs"].get(key, 0) for p in prog))

            out[f"jobs.{j}.batches"] = len(prog)
            out[f"jobs.{j}.rows_in"] = sum(p["numInputRows"] for p in prog)
            out[f"jobs.{j}.plan_ms"] = d("queryPlanning")
            out[f"jobs.{j}.source_ms"] = d("latestOffset") + d("getBatch")
            out[f"jobs.{j}.add_batch_ms"] = d("addBatch")
            out[f"jobs.{j}.commit_ms"] = d("walCommit") + d("commitOffsets")
            new = {f: b for f, b in common.parquet_files(self.table(j)).items()
                   if f not in files_before.get(j, {})}
            out[f"sinks.{j}.call_ms"] = self.sinks[j].call_ms(since)
            out[f"sinks.{j}.files_written"] = len(new)
            out[f"sinks.{j}.bytes_written"] = sum(new.values())
            if j == "aggregator":
                states = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
                out["window_agg.state_rows"] = max((s["numRowsTotal"] for s in states), default=0)
                out["window_agg.state_bytes"] = max((s["memoryUsedBytes"] for s in states), default=0)
                out["window_agg.state_commit_ms"] = float(sum(s.get("commitTimeMs", 0) for s in states))
        return out

    def files(self) -> dict[str, dict[str, int]]:
        return {j: common.parquet_files(self.table(j)) for j in JOBS}


def _batch_end(p: dict) -> float:
    """Epoch second a batch committed: trigger start + triggerExecution."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


def _check(con, st: Streams, window_s: int) -> dict[str, tuple[int, int]]:
    return {
        "readings": oracle.check_readings(con),
        "alerts": oracle.check_alerts(con),
        "windows": oracle.check_windows(con, window_s * 1_000_000, st.last_watermark_us()),
    }


def _maintenance(st: Streams, root: str):
    """The readings table and a per-sensor view over it, as a deployment
    would track them."""
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import MaintenancePolicy, Pipeline

    pl = Pipeline().track_table("readings", st.table("persistence"),
                                checkpoints=[st.ckpt("persistence")])
    pl.track_matview("readings_by_sensor", "readings", os.path.join(root, "mv_by_sensor"),
                     keys=("sensor_id",), value_col="value")
    return pl, MaintenancePolicy(target_bytes=64 << 20, min_files=2)


def _commit_latencies(st: Streams, n_events: int, t_a: float) -> np.ndarray:
    """Per backlog event, in file order: seconds from the drain's start
    until the last of the three jobs had committed the batch that read
    it (batch ends from ``recentProgress``)."""
    out = np.zeros(n_events)
    for j in JOBS:
        ends = [(_batch_end(p), p["numInputRows"]) for p in st.progress(j, t_a)
                if p["numInputRows"]]
        per_event = np.repeat([e - t_a for e, _ in ends], [n for _, n in ends])
        if len(per_event) < n_events:
            raise RuntimeError(f"the {j} job read {len(per_event)} of {n_events} events")
        out = np.maximum(out, per_event[:n_events])
    return out


def sensor_backfill(run) -> dict:
    tr = run.tracer
    root = os.path.join(run.work, "backfill")
    src = os.path.join(root, "src")
    staged = os.path.join(run.work, "backlog")
    n_target = BACKFILL_EVENTS_PER_S * run.seconds
    with run.generating():
        # the warm-up file's event time ends a day before the backlog's,
        # so its windows close on the backlog's first batch and none of
        # the backlog is behind the watermark
        wiregen.backlog(os.path.join(src, "warmup"), run.seed + 1, BACKFILL_WARM_EVENTS, 1,
                        t0=wiregen.BACKLOG_T0 - 86_400)
        n_events = wiregen.backlog(staged, run.seed, n_target,
                                   max(1, n_target // BACKFILL_FILE_EVENTS))
    spark = run.session()
    # warm-up: the three jobs start and drain the warm-up file first, so
    # the timed drain pays neither query start nor the first batches'
    # one-off costs (code generation, JIT, state store start)
    with tr.span("setup.start_jobs"):
        st = Streams(spark, root, tr, BACKFILL_WINDOW_S, BACKFILL_WATERMARK_S,
                     BACKFILL_MAX_FILES)
    with tr.span("setup.warmup"):
        st.drain()
    files_before = st.files()

    t_a = time.time()
    run.first_timed_op(t_a)
    c0 = common.cpu_counters()
    u0 = run.cpu_s()
    with tr.span("drain"):
        # one rename: a trigger that lists the source while files are
        # moved one by one would read the backlog in two batches
        os.rename(staged, os.path.join(src, "backlog"))
        st.drain()
        t_b = time.time()
    drain_cpu_s = run.cpu_s() - u0
    st.stop()
    commit_lat = _commit_latencies(st, n_events, t_a)
    layers = st.progress_layers(t_a, files_before)  # before the tick rewrites files
    before = common.parquet_files(st.table("persistence"))
    pl, policy = _maintenance(st, root)
    with tr.span("maintain.tick"):
        u0 = run.cpu_s()
        m0 = time.perf_counter()
        tick = pl.maintain(spark, policy)
        tick_s = time.perf_counter() - m0
        tick_cpu_s = run.cpu_s() - u0
    with tr.span("maintain.noop_tick"):
        m0 = time.perf_counter()
        noop = pl.maintain(spark, policy)
        noop_s = time.perf_counter() - m0
    steal = common.steal_pct(c0, common.cpu_counters())
    after = common.parquet_files(st.table("persistence"))

    with tr.span("check"):
        con = oracle.connect()
        oracle.register_wire(con, os.path.join(src, "*", "*.json"))
        st.register(con)
        checks = _check(con, st, BACKFILL_WINDOW_S)
        con.close()
    mv = tick.get("readings_by_sensor", {}).get("actions", {}).get("mv_create", {})
    tick_errors = sum(1 for rep in (tick, noop) for v in rep.values() if "error" in v["actions"])
    optimized = [v["actions"]["optimize"] for v in tick.values() if "optimize" in v["actions"]]
    noop_actions = sum(1 for v in noop.values() if v["actions"])
    # the tick must compact the readings table, build the per-sensor
    # view over the 24 sensors, and leave the next tick nothing to do
    checks["maintain"] = (
        4, tick_errors + (len(optimized) != 1) + (mv.get("n_groups") != 24) + (noop_actions != 0)
    )
    attempted = sum(n for n, _ in checks.values())
    failed = sum(f for _, f in checks.values())
    drain_s = t_b - t_a
    named = {
        "backfill_events_per_s": (n_events / drain_s, "1/s"),
        "maintain_tick_s": (tick_s, "s"),
        "failed_frac": (failed / attempted, "1"),
        "backlog_events": (n_events, "count"),
        "host.steal_pct": (steal, "%"),
    }
    e2e = {"cpu_ms_per_op": ((drain_cpu_s + tick_cpu_s) / n_events * 1000.0, "ms")}
    wall = {
        "wall.latency_p50_s": (float(np.quantile(commit_lat, 0.5)), "s"),
        "wall.throughput_per_s": named["backfill_events_per_s"],
    }
    gone = [p for p in before if p not in after]
    layers.update({
        "jobs.cpu_s": drain_cpu_s,
        "orchestrator.maintain_tick_s": tick_s,
        "orchestrator.maintain_tick_cpu_s": tick_cpu_s,
        "orchestrator.maintain_noop_tick_s": noop_s,
        "manifest.files_compacted": sum(o.get("n_compacted", 0) for o in optimized),
        "manifest.bytes_rewritten": sum(before[p] for p in gone),
        "matview.groups": mv.get("n_groups", 0),
        "host.steal_pct": steal,
    })
    return {"attempted": attempted, "failed": failed, "checks": checks,
            "named": named, "e2e": e2e, "wall": wall, "layers": layers}
