"""Tests of the benchmark itself. Run from the checkout root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke runs start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import common  # noqa: E402
import lakedata  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import wiregen  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_every_metric_the_runner_prints():
    doc = _bench_json()
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in doc["workloads"]} <= set(run.workloads())


def test_program_cpu_counts_this_process():
    c0 = common.program_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert common.program_cpu_s() - c0 >= 0.25


def test_end_descendants_waits_for_orphans():
    # a child that exits at once, leaving a grandchild that would run 30 s
    script = (
        "import subprocess, sys, time; sys.path.insert(0, sys.argv[1]); import common\n"
        "common.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 30 & exit 0'])\n"
        "time.sleep(0.2)\n"
        "orphans = common.descendants()\n"
        "print(len(orphans), common.end_descendants(grace_s=0.5), common.descendants())\n"
    )
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "-c", script, BENCH], capture_output=True, text=True,
                       timeout=60)
    assert p.returncode == 0, p.stderr
    assert p.stdout.split() == ["1", "[]", "[]"]
    assert time.monotonic() - t0 < 20


@pytest.mark.skipif(not os.environ.get("PERFBENCH_REF_TABLES"),
                    reason="set PERFBENCH_REF_TABLES to a directory of the sf0.01 test tables")
def test_lake_tables_copy_the_test_tables(tmp_path):
    lakedata.write(str(tmp_path), seed=11)
    ours = lakedata.profile(str(tmp_path))
    ref = lakedata.profile(os.environ["PERFBENCH_REF_TABLES"])
    assert abs(ours.pop("ship_order_corr")) < 0.05 and abs(ref.pop("ship_order_corr")) < 0.05
    for name, want in ref.items():
        assert ours[name] == pytest.approx(want, rel=0.2), name


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    # output to files, not pipes: waiting on a pipe would also wait for
    # any process that inherited it, such as a JVM left running
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        rc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
             "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, stdout=out, stderr=err, timeout=300,
        ).returncode
        # the run's JVM names its work directory on its command line
        left = _processes_naming(os.path.join(ROOT, ".perfbench_work", f"{workload}-3-"))
        out.seek(0)
        err.seek(0)
        assert rc == 0, err.read()[-3000:]
        assert not left, f"processes left running: {left}"
        named, result = (json.loads(ln) for ln in out.read().strip().splitlines()[-2:])
    return named, result


@pytest.mark.parametrize("workload,trace", [
    ("sensor_backfill", 0), ("sensor_backfill", 1),
    ("lake_queries", 0), ("lake_queries", 1),
])
def test_smoke_run_prints_every_metric_and_passes_its_checks(workload, trace):
    named, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, named
    expected = ([(n, u) for n, u in run.END_TO_END] if trace == 0
                else [(n, u) for n, u, _ in run.PER_LAYER])
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == expected
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert named["named"]["failed_frac"]["value"] == 0.0
    assert named["named"]["spark.cores"]["value"] == common.nproc()
    work = os.path.join(ROOT, ".perfbench_work")
    assert not [d for d in os.listdir(work) if d.startswith(f"{workload}-3-")]


def _processes_naming(text: str) -> list[int]:
    """Pids of the processes whose command line contains ``text``."""
    out = []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                if text.encode() in fh.read():
                    out.append(int(d))
        except OSError:
            continue
    return out


def _alerts_file(con, path: str, skip: int) -> None:
    """The expected alerts, in the program's alert-table columns, as one
    committed sink file, leaving out the first ``skip`` rows."""
    con.execute(f"""
        COPY (SELECT sensor_id, sensor_type, building, floor, room,
                     make_timestamp(ts_us) AS "timestamp", battery_level, signal_strength,
                     alert_type, severity, threshold_value, value AS actual_value, message,
                     make_timestamp(ts_us) AS triggered_at, status
              FROM ({oracle.expected_alerts_sql()}) ORDER BY sensor_id, ts_us OFFSET {skip})
        TO '{path}' (FORMAT PARQUET)""")


def test_alert_check_fails_when_one_alert_is_dropped(tmp_path):
    src = tmp_path / "src"
    wiregen.backlog(str(src), seed=5, n_events=24_000, n_files=2)
    table = tmp_path / "alerts"
    table.mkdir()
    part = str(table / "part-0.parquet")
    con = oracle.connect()
    oracle.register_wire(con, str(src / "*.json"))

    _alerts_file(con, part, skip=0)
    oracle.register_table(con, "alerts", str(table))
    n, failed = oracle.check_alerts(con)
    assert n > 0 and failed == 0

    _alerts_file(con, part, skip=1)
    oracle.register_table(con, "alerts", str(table))
    assert oracle.check_alerts(con) == (n, 1)


def test_without_the_program_the_runner_fails_without_a_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(BENCH):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(BENCH, f)).read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_bench_json()))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
