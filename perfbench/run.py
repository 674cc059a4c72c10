"""Run one benchmark workload and print its result record.

    python3 perfbench/run.py --workload sensor_backfill --seed 1 --seconds 10 --trace 0

Run from the checkout root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. The line before it carries every metric named in
the workload's definition (perfbench/README.md) and the per-check
counts. Every file a run writes lives under ``.perfbench_work/`` and is
removed at exit, except the spans of a traced run, which are written
to ``.perfbench_out/``. Before it exits, on every path, the run stops
the JVM and waits until every process it started has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import common  # noqa: E402
from lake import QUERIES  # noqa: E402

sys.path.insert(0, common.ROOT)

#: (name, unit) of every end-to-end metric, in BENCHMARK.json order.
#: Both are CPU time charged to the program's processes: on a shared
#: host, hypervisor steal moves wall times by up to 2x between runs
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_ms_per_op", "ms"),
)
#: (name, unit, better) of the wall-clock figures, reported per layer
WALL = (
    ("wall.setup_s", "s", "lower"),
    ("wall.latency_p50_s", "s", "lower"),
    ("wall.throughput_per_s", "1/s", "higher"),
)
JOBS = ("persistence", "alerts", "aggregator")
#: (name, unit, better) of every per-layer metric, in BENCHMARK.json
#: order; a workload that does not run a layer reports it as 0
PER_LAYER = (
    *[m for j in JOBS for m in (
        (f"jobs.{j}.batches", "count", "higher"),
        (f"jobs.{j}.rows_in", "count", "higher"),
        (f"jobs.{j}.plan_ms", "ms", "lower"),
        (f"jobs.{j}.source_ms", "ms", "lower"),
        (f"jobs.{j}.add_batch_ms", "ms", "lower"),
        (f"jobs.{j}.commit_ms", "ms", "lower"),
        (f"sinks.{j}.call_ms", "ms", "lower"),
        (f"sinks.{j}.files_written", "count", "lower"),
        (f"sinks.{j}.bytes_written", "bytes", "lower"),
    )],
    ("window_agg.state_rows", "count", "lower"),
    ("window_agg.state_bytes", "bytes", "lower"),
    ("window_agg.state_commit_ms", "ms", "lower"),
    ("jobs.cpu_s", "s", "lower"),
    ("orchestrator.maintain_tick_s", "s", "lower"),
    ("orchestrator.maintain_tick_cpu_s", "s", "lower"),
    ("orchestrator.maintain_noop_tick_s", "s", "lower"),
    ("manifest.files_compacted", "count", "higher"),
    ("manifest.bytes_rewritten", "bytes", "lower"),
    ("matview.groups", "count", "higher"),
    ("plans.build_s", "s", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("shuffle.bytes", "bytes", "lower"),
    ("shuffle.records", "count", "lower"),
    ("spill.bytes", "bytes", "lower"),
    ("broadcast.bytes", "bytes", "lower"),
    ("python.eval_ms", "ms", "lower"),
    *[(f"query.{q}.s", "s", "lower") for q in QUERIES],
    *[(f"query.{q}.cpu_s", "s", "lower") for q in QUERIES],
    ("host.steal_pct", "%", "lower"),
    ("trace.self_ms", "ms", "lower"),
    *WALL,
    *[(f"traced.{n}", u, "lower") for n, u in END_TO_END],
)
#: a run that has not finished by then stops itself (the contract is 180 s,
#: and shutting down may take up to STOP_S + 20 s more)
DEADLINE_S = 130
#: a session stop that has not returned by then is cut short
STOP_S = 20


class Run:
    """One invocation: its seed, work directory, tracer and timings."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.t_proc = common.process_start_epoch()
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(common.WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.tracer = common.Tracer(trace)
        self.gen_s = self.gen_cpu_s = 0.0  # seeded input generation, not part of set-up
        self.t_first: float | None = None
        self.cpu_first: float | None = None
        self.spark = None

    def session(self):
        with self.tracer.span("setup.session"):
            self.spark = common.spark_session(self.work)
        return self.spark

    @contextmanager
    def generating(self):
        """Seeded input generation, kept out of the set-up figures."""
        w0, c0 = time.perf_counter(), time.process_time()
        try:
            yield
        finally:
            self.gen_s += time.perf_counter() - w0
            self.gen_cpu_s += time.process_time() - c0

    def cpu_s(self) -> float:
        """CPU seconds of the program so far (this process and the JVM)."""
        return common.program_cpu_s()

    def first_timed_op(self, t: float) -> None:
        self.t_first = t
        self.cpu_first = self.cpu_s()

    def setup_cpu_s(self) -> float:
        return self.cpu_first - self.gen_cpu_s

    def setup_wall_s(self) -> float:
        return self.t_first - self.t_proc - self.gen_s

    def close(self) -> None:
        """Stop Spark and wait for every process below this one to end."""
        signal.alarm(STOP_S)
        try:
            if self.spark is not None:
                common.stop_spark(self.spark)
        except Exception as e:  # a hung stop, or a session cut off mid-call
            print(f"perfbench: stopping the session failed: {e!r}", file=sys.stderr)
        finally:
            signal.alarm(0)
            left = common.end_descendants()
            if left:
                print(f"perfbench: processes {left} outlived SIGKILL", file=sys.stderr)
            shutil.rmtree(self.work, ignore_errors=True)


def workloads() -> dict:
    import lake
    import streams

    return {
        "sensor_backfill": streams.sensor_backfill,
        "lake_queries": lake.lake_queries,
    }


def _deadline(_sig, _frame):
    raise TimeoutError("run or shutdown exceeded its time limit")


def _terminated(_sig, _frame):
    sys.exit(143)  # unwinds through Run.close, which stops Spark and cleans up


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        import iot_sensor_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    table = workloads()
    if a.workload not in table:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(table)}",
              file=sys.stderr)
        return 2
    common.adopt_orphans()
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(DEADLINE_S)
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace))
    try:
        res = table[a.workload](run)
        e2e = {"setup_s": (run.setup_cpu_s(), "s"), **res["e2e"]}
        res["named"]["spark.cores"] = (run.spark.sparkContext.defaultParallelism, "count")
        wall = {"wall.setup_s": (run.setup_wall_s(), "s"), **res["wall"]}
    finally:
        signal.alarm(0)
        run.close()
    if a.trace:
        layers = dict(res["layers"])
        layers["trace.self_ms"] = run.tracer.self_s * 1000.0
        layers.update({k: v for k, (v, _) in wall.items()})
        layers.update({f"traced.{k}": v for k, (v, _) in e2e.items()})
        metrics = {n: (layers.get(n, 0.0), u) for n, u, _ in PER_LAYER}
        run.tracer.write(os.path.join(common.ROOT, ".perfbench_out",
                                      f"{a.workload}-{a.seed}-{int(time.time())}.spans.jsonl"))
    else:
        metrics = {n: e2e[n] for n, _ in END_TO_END}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in
                  {**e2e, **wall, **res["named"]}.items()},
        "checks": {k: {"attempted": n, "failed": f} for k, (n, f) in res["checks"].items()},
        **({"bad": res["bad"]} if res.get("bad") else {}),
    }))
    common.emit(res["failed"] == 0, res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
