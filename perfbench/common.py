"""Plumbing shared by the workloads: the work directory, the Spark
session and its shutdown, host steal, the program's CPU time, in-memory
spans and the result record."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import sys
import time
from contextlib import contextmanager

#: the checkout root (the parent of this directory)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: every file a run writes lives under here (ignored by git)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution);
    falls back to now when /proc is unavailable."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration, IndexError):
        return time.time()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_counters() -> list[int]:
    """Aggregate /proc/stat jiffies (user..steal), padded to 8 fields."""
    try:
        with open("/proc/stat") as fh:
            vals = list(map(int, fh.readline().split()[1:9]))
        return (vals + [0] * 8)[:8]
    except (OSError, ValueError):
        return [0] * 8


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    tot = sum(d)
    return 100.0 * d[7] / tot if tot > 0 else 0.0


#: JVM threads whose CPU time is left out: just-in-time compilation,
#: which in a fresh JVM runs on for minutes and varies run to run
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        txt = fh.read()
    return txt[txt.index("(") + 1:txt.rindex(")")], txt.rsplit(")", 1)[1].split()


def descendants() -> list[int]:
    """Pids of every process below this one, read from /proc."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parents[int(d)] = int(_stat(f"/proc/{d}/stat")[1][1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended while being read
    tree, todo = [], [os.getpid()]
    while todo:
        parent = todo.pop()
        kids = [p for p, pp in parents.items() if pp == parent]
        tree += kids
        todo += kids
    return tree


def program_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and by
    every live descendant (the JVM, and the Python workers it has
    reaped), less the JVM's JIT compiler threads. Read from /proc. Time
    the hypervisor steals is not in it."""
    me = os.getpid()
    ticks = 0
    for pid in [me, *descendants()]:
        try:
            f = _stat(f"/proc/{pid}/stat")[1]
            # children this process has reaped (short helper commands) are
            # left out; a descendant's own reaped children are counted
            ticks += sum(map(int, f[11:13] if pid == me else f[11:15]))
            for task in os.listdir(f"/proc/{pid}/task"):
                comm, tf = _stat(f"/proc/{pid}/task/{task}/stat")
                if comm.startswith(JIT_THREADS):
                    ticks -= int(tf[11]) + int(tf[12])
        except (OSError, ValueError, IndexError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def adopt_orphans() -> None:
    """Make this process the subreaper of everything below it (Linux
    prctl PR_SET_CHILD_SUBREAPER), so that a process whose parent ends
    first (a Python worker of the JVM) is re-parented here, not to init,
    and end_descendants still sees it and reaps it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def end_descendants(grace_s: float = 10.0) -> list[int]:
    """Wait until every process below this one has ended, reaping each.
    What is still alive after ``grace_s`` gets SIGTERM, and SIGKILL 5 s
    later. Returns the pids that outlived even that (none, normally)."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # reap every ended child, own or adopted
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        live = descendants()
        if not live:
            return []
        if time.monotonic() > deadline:
            if sig is None:
                return live
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL if sig == signal.SIGTERM else None
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def parquet_files(path: str) -> dict[str, int]:
    """{path: bytes} of the parquet data files under ``path``, skipping
    hidden and staging entries."""
    out = {}
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                fp = os.path.join(dirpath, f)
                out[fp] = os.path.getsize(fp)
    return out


def spark_session(work: str):
    """The program's own session factory at ``local[nproc]`` with nproc
    shuffle partitions, with every scratch path (shuffle, warehouse, JVM
    and Python temp) kept inside the work directory. The master and the
    partition count are passed explicitly: the package reads its own
    default core count once, at import."""
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Python workers import the program's query functions by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    from iot_sensor_data_pipeline_spark.session import get_spark

    cores = nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file (the JVM would write it under /tmp), and
            # JIT compiler threads that live as long as the JVM, so that
            # program_cpu_s can leave their CPU time out
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                              "-XX:-UseDynamicNumberOfCompilerThreads"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    if spark.sparkContext.master != f"local[{cores}]":
        raise RuntimeError(f"session runs at {spark.sparkContext.master}, not local[{cores}]")
    return spark


def stop_spark(spark) -> None:
    """Stop the session's streaming queries and the session, then the JVM
    itself: spark.stop() leaves it running until this process exits.
    Closing its stdin makes it exit; end_descendants waits for that."""
    from pyspark import SparkContext

    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written out
    once, at the end of the run. Disabled, it records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.self_s += time.perf_counter() - c0
        try:
            yield
        finally:
            c1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.self_s += time.perf_counter() - c1

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (a sink call), under the
        innermost open span."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start, "end": end, **attrs})

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the result record as the last line of standard output."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
