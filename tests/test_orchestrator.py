"""Orchestrator lifecycle + partitioned parquet sink round-trip."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.sources.sinks import (
    parquet_batch_sink,
    write_partitioned_parquet,
)
from iot_sensor_data_pipeline_spark.streaming.orchestrator import Pipeline
from tests.test_streaming import reading_json, write_batch


def test_pipeline_three_jobs_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    readings, alerts, aggs = [], [], []

    with Pipeline() as p:
        p.start_standard_jobs(
            raw_factory=lambda: spark.readStream.text(str(src)),
            checkpoint_root=str(tmp_path / "chk"),
            readings_sinks=[lambda df: readings.extend(df.collect())],
            alerts_sinks=[lambda df: alerts.extend(df.collect())],
            agg_sinks=[lambda df: aggs.extend(df.collect())],
            window_duration="1 minute",
            watermark="30 seconds",
        )
        write_batch(src, "b1.json", [reading_json("00:10", 22.0), reading_json("00:20", 31.0)])
        p.process_all_available()
        write_batch(src, "b2.json", [reading_json("05:00", 23.0)])  # advance watermark
        p.process_all_available()
        assert len(p.queries) == 3 and all(q.isActive for q in p.queries.values())
        # persistence and alerts share one query: two streams, not three
        assert p.queries["persistence"] is p.queries["alerts"]
        ids = {q.id for q in p.queries.values()}
        assert len(ids) == 2 and ids <= {q.id for q in spark.streams.active}
        p.stop_all()
        p.await_all(poll_seconds=0.1, timeout=30)

    assert len(readings) == 3              # every reading persisted
    assert [a.alert_type for a in alerts] == ["temperature_critical"]
    assert any(r.n == 2 for r in aggs)      # first window finalized


class _FakeQuery:
    """Counts the StreamingQuery calls the Pipeline makes."""

    def __init__(self, error=None) -> None:
        self.isActive = error is None
        self.error = error
        self.drains = self.stops = 0

    def processAllAvailable(self) -> None:
        self.drains += 1

    def stop(self) -> None:
        self.stops += 1
        self.isActive = False

    def exception(self):
        return self.error


def test_pipeline_acts_once_per_distinct_query():
    """A query registered under two names is drained, stopped and
    polled once, and a failure names it by both names."""
    shared, other = _FakeQuery(), _FakeQuery()
    p = Pipeline()
    p.add("persistence", shared)
    p.add("alerts", shared)
    p.add("aggregator", other)
    p.process_all_available()
    assert (shared.drains, other.drains) == (1, 1)
    p.stop_all()
    assert (shared.stops, other.stops) == (1, 1)

    failed = _FakeQuery(error=ValueError("boom"))
    p = Pipeline()
    p.add("persistence", failed)
    p.add("alerts", failed)
    with pytest.raises(RuntimeError, match="query 'persistence\\+alerts' failed"):
        p.await_all(poll_seconds=0.01, timeout=5)


def test_partitioned_parquet_roundtrip_and_pruning(spark, tmp_path):
    out = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", 1.0), (2, "2026-01-02 11:00:00", 2.0)],
        "id int, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df = df.withColumn("dt", F.to_date("ts")).withColumn("hour", F.hour("ts"))
    write_partitioned_parquet(df, out, ["dt", "hour"], mode="overwrite")

    back = spark.read.parquet(out)
    assert back.count() == 2
    pruned = back.where(F.col("dt") == "2026-01-01")
    assert pruned.count() == 1
    # partition pruning visible in the scan (no dt filter left post-scan)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_parquet_batch_sink_appends(spark, tmp_path):
    out = str(tmp_path / "sink")
    sink = parquet_batch_sink(out)
    df = spark.createDataFrame([(1,)], "id int")
    sink(df)
    sink(df)
    assert spark.read.parquet(out).count() == 2


def test_streaming_sink_keeps_manifest_fresh_and_plans_compaction(
    spark, tmp_path
):
    """The maintenance loop end-to-end: a manifest-keeping parquet sink
    runs N micro-batches; after each commit the skipping manifest is
    fresh WITHOUT a rebuild (read_pruned == full scan), and an in-place
    OPTIMIZE shrinks the small-file count."""
    import pytest

    from iot_sensor_data_pipeline_spark.sources.manifest import (
        optimize_table,
        read_manifest,
        read_pruned,
    )

    out = str(tmp_path / "events_sink")
    sink = parquet_batch_sink(out, manifest_cols=["k"])

    # N micro-batches, disjoint key ranges -> prunable per-file stats
    for b in range(4):
        batch = spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1)
        sink(batch)

    # manifest is fresh: every file listed, no rebuild ever ran
    man = read_manifest(spark, out)
    n_files = man.select("file").distinct().count()
    assert n_files == 4
    # pruned read == full scan (the manifest absorbed every append)
    pred = {"k": (150, 250)}
    got = sorted(r.k for r in read_pruned(spark, out, pred).collect())
    want = sorted(
        r.k
        for r in spark.read.parquet(out).where(F.col("k").between(150, 250)).collect()
    )
    assert got == want and len(got) == 101

    # compaction: the 4 tiny files pack into one bin, rewritten in place
    res = optimize_table(spark, out, 1 << 30)
    assert res["status"] == "optimized" and res["n_compacted"] == 4
    files = [
        f for f in os.listdir(out)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    assert len(files) == 1 and files[0].startswith("c")
    assert spark.read.parquet(out).count() == 400

    # r11: manifests cover hive layouts too — only indexing a
    # PARTITION column is rejected (its values live in dir names, not
    # footers); a data column composes fine
    with pytest.raises(ValueError, match="partition columns"):
        parquet_batch_sink(out, partition_cols=["dt"], manifest_cols=["dt"])
    parquet_batch_sink(out, partition_cols=["dt"], manifest_cols=["k"])


def test_parquet_sink_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an epoch must converge
    to ONE copy of its rows (the pre-fix behavior appended duplicates),
    and the skipping manifest must stay truthful across the replay
    (the dead attempt's files drop out, the new attempt's enter)."""
    from iot_sensor_data_pipeline_spark.sources.manifest import (
        read_manifest,
        read_pruned,
        write_manifest,
    )

    out = str(tmp_path / "epoch_sink")
    sink = parquet_batch_sink(out, checkpoint="/ckpt/A")

    def batch(lo, hi, parts=2):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).repartition(parts)

    sink(batch(0, 100), 0)
    sink(batch(100, 200), 1)
    assert spark.read.parquet(out).count() == 200
    # replay epoch 1 (same rows, DIFFERENT partitioning — as a restarted
    # job may produce): still 200 rows, not 300
    sink(batch(100, 200, parts=5), 1)
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.agg(F.sum("k")).first()[0] == sum(range(200))

    # a FOREIGN checkpoint reusing epoch ids must never delete another
    # lineage's committed files: epoch 1 from lineage B is additive
    foreign = parquet_batch_sink(out, checkpoint="/ckpt/B")
    foreign(batch(1000, 1010), 1)
    assert spark.read.parquet(out).count() == 210

    # a wiped-and-recreated checkpoint at the SAME path restarts epoch
    # ids — same lineage hash, so its epoch 0 would delete committed
    # rows; the regression guard fails loudly
    import pytest

    with pytest.raises(ValueError, match="older than this lineage"):
        sink(batch(5000, 5010), 0)
    assert spark.read.parquet(out).count() == 210  # table unharmed
    # a MISSING state file (crash between its delete and rename, manual
    # cleanup) must NOT disarm the guard: max_epoch re-inferred from the
    # e<N>-<lineage>- file names on disk (ADVICE r9 item 1)
    state_file = os.path.join(out, "_sink_lineage_" + __import__("hashlib")
                              .sha256(b"/ckpt/A").hexdigest()[:8] + ".json")
    os.remove(state_file)
    crc = os.path.join(out, "." + os.path.basename(state_file) + ".crc")
    if os.path.exists(crc):  # hadoop local-FS checksum sidecar
        os.remove(crc)
    with pytest.raises(ValueError, match="lineage state file missing"):
        sink(batch(5000, 5010), 0)
    # explicit adoption: write max_epoch -1 into the lineage state file
    with open(state_file, "w") as fh:
        __import__("json").dump({"max_epoch": -1}, fh)
    sink(batch(5000, 5010), 0)  # adopted: epoch 0 replaces lineage A's e0
    assert spark.read.parquet(out).count() == 120  # 100-row e0 swapped for 10

    # manifest stays truthful across the replay
    mans = parquet_batch_sink(out, manifest_cols=["k"], checkpoint="/ckpt/A")
    write_manifest(spark, out, ["k"])
    mans(batch(200, 300), 2)
    mans(batch(200, 300, parts=7), 2)  # replay with different layout
    man = read_manifest(spark, out)
    files_on_disk = {
        f
        for f in os.listdir(out)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    man_files = {os.path.basename(r.file) for r in man.select("file").collect()}
    assert man_files == files_on_disk  # no stale rows, no missing files
    got2 = sorted(r.k for r in read_pruned(spark, out, {"k": (250, 260)}).collect())
    assert got2 == list(range(250, 261))
    assert spark.read.parquet(out).count() == 220


def test_parquet_sink_epoch_replay_partitioned(spark, tmp_path):
    """The r9 replay-idempotence contract on a HIVE-PARTITIONED sink
    (VERDICT r9 task 3): a replayed epoch converges to one copy — even
    when the replay's rows land in DIFFERENT partition directories than
    the dead attempt's (the retirement sweep is recursive) — foreign
    lineages stay additive, and the regression guard stays armed."""
    import pytest

    out = str(tmp_path / "part_epoch_sink")
    sink = parquet_batch_sink(out, partition_cols=["dt"], checkpoint="/ckpt/P")

    def batch(lo, hi, dt_mod=2, parts=2):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("d"), (F.col("id") % dt_mod).cast("string")).alias("dt"),
        ).repartition(parts)

    sink(batch(0, 100), 0)
    sink(batch(100, 200), 1)
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert sorted(r.dt for r in got.select("dt").distinct().collect()) == ["d0", "d1"]
    # partition pruning still works on the epoch-named layout
    assert got.where(F.col("dt") == "d0").count() == 100

    # replay epoch 1: same rows, different task partitioning
    sink(batch(100, 200, parts=7), 1)
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.agg(F.sum("k")).first()[0] == sum(range(200))
    assert got.agg(F.sum("v")).first()[0] == 2 * sum(range(200))

    # replay epoch 1 again, rows now landing in DIFFERENT partitions
    # (dt derived differently — the processing-time-partition case):
    # the d0/d1 epoch-1 files must retire even though the new attempt
    # only writes d0/d1/d2 — exact rows, no orphans in any directory
    sink(batch(100, 200, dt_mod=3), 1)
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert got.where(F.col("k") >= 100).select("dt").distinct().count() == 3
    assert got.agg(F.sum("k")).first()[0] == sum(range(200))

    # foreign lineage at the same epoch id: additive, never destructive
    foreign = parquet_batch_sink(out, partition_cols=["dt"], checkpoint="/ckpt/Q")
    foreign(batch(1000, 1010), 1)
    assert spark.read.parquet(out).count() == 210

    # wiped-checkpoint epoch regression fails loudly — including via
    # the recursive file-name inference when the state file is gone
    with pytest.raises(ValueError, match="older than this lineage"):
        sink(batch(5000, 5010), 0)
    pstate = os.path.join(out, "_sink_lineage_" + __import__("hashlib")
                          .sha256(b"/ckpt/P").hexdigest()[:8] + ".json")
    os.remove(pstate)
    pcrc = os.path.join(out, "." + os.path.basename(pstate) + ".crc")
    if os.path.exists(pcrc):
        os.remove(pcrc)
    with pytest.raises(ValueError, match="lineage state file missing"):
        sink(batch(5000, 5010), 0)
    assert spark.read.parquet(out).count() == 210  # table unharmed


def test_streaming_sink_keeps_bloom_index_fresh(spark, tmp_path):
    """bloom_cols mirrors manifest_cols: the point-lookup index stays
    fresh across micro-batches (each refresh bloom-reads only the new
    file) and pruned point reads equal exact semi-joins throughout."""
    from iot_sensor_data_pipeline_spark.sources.bloom_index import (
        prune_files_bloom,
        read_pruned_bloom,
        write_bloom_index,
    )

    out = str(tmp_path / "keyed_sink")
    # table creation: first batch + index sizing
    first = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).coalesce(1)
    first.write.parquet(out)
    write_bloom_index(spark, out, ["k"], expected_keys_per_file=100)

    sink = parquet_batch_sink(out, bloom_cols=["k"])
    for b in range(1, 4):
        batch = spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1)
        sink(batch)

    keys = spark.createDataFrame([(42,), (342,)], "k long")
    kept, total = prune_files_bloom(spark, out, ["k"], keys)
    assert total == 4
    assert len(kept) <= 3  # 2 keys live in 2 files (+ at most one fp)
    got = sorted(r.v for r in read_pruned_bloom(spark, out, ["k"], keys).collect())
    assert got == [84, 684]


def test_read_sink_as_of_time_travel(spark, tmp_path):
    """Epoch-scoped file names double as version metadata: as-of reads
    reconstruct a lineage's state at any committed epoch, flat or
    hive-partitioned, without extra bookkeeping; foreign lineages are
    excluded by design."""
    import pytest

    from iot_sensor_data_pipeline_spark.sources.sinks import (
        list_sink_epochs,
        read_sink_as_of,
    )

    out = str(tmp_path / "asof_sink")
    sink = parquet_batch_sink(out, partition_cols=["dt"], checkpoint="/ckpt/T")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), (F.col("id") % 2).cast("string")).alias("dt"),
        )

    for e, (lo, hi) in enumerate([(0, 10), (10, 30), (30, 60)]):
        sink(batch(lo, hi), e)
    # a foreign lineage's rows must never appear in this lineage's as-of
    parquet_batch_sink(out, partition_cols=["dt"], checkpoint="/ckpt/U")(
        batch(1000, 1010), 0
    )

    assert list_sink_epochs(spark, out, "/ckpt/T") == [0, 1, 2]
    assert read_sink_as_of(spark, out, "/ckpt/T", 0).count() == 10
    as_of_1 = read_sink_as_of(spark, out, "/ckpt/T", 1)
    assert as_of_1.count() == 30
    assert "dt" in as_of_1.columns  # partition col survives (basePath)
    assert as_of_1.where(F.col("dt") == "d1").count() == 15
    assert read_sink_as_of(spark, out, "/ckpt/T").count() == 60
    assert read_sink_as_of(spark, out, "/ckpt/T", 99).count() == 60
    # epoch before the first commit: empty but typed
    empty = read_sink_as_of(spark, out, "/ckpt/T", -1)
    assert empty.count() == 0 and "k" in empty.columns
    # a lineage that never wrote fails loudly
    with pytest.raises(ValueError, match="no committed files"):
        read_sink_as_of(spark, out, "/ckpt/NEVER")


def test_recover_on_start_closes_duplicate_window(spark, tmp_path):
    """VERDICT r10 task 6: an OPTIMIZE swap interrupted between
    publish and retire leaves every compacted row visible TWICE until
    recovery runs; Pipeline.recover_on_start rolls the swap forward at
    boot, so reads are exact from the restart — not from whenever the
    next optimize happens to run."""
    import json

    path = str(tmp_path / "t1")
    for lo, hi in [(0, 100), (100, 200)]:
        spark.range(lo, hi).select(F.col("id").alias("k")).coalesce(1)\
            .write.mode("append").parquet(path)
    retires = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    # forge the crash: the compacted add is fully published, the
    # retires are still on disk, the journal survives
    spark.read.parquet(path).coalesce(1).write.parquet(str(tmp_path / "st"))
    part = next(f for f in os.listdir(tmp_path / "st") if f.endswith(".parquet"))
    os.rename(str(tmp_path / "st" / part),
              os.path.join(path, "cabcd1234-0.parquet"))
    with open(os.path.join(path, "_optimize_journal.json"), "w") as fh:
        json.dump({"add": ["cabcd1234-0.parquet"], "retire": retires,
                   "compacted_epochs": {}}, fh)
    assert spark.read.parquet(path).count() == 400  # the duplicate window

    # a second, healthy table must recover as 'clean'; a nonexistent
    # one is isolated as 'error'-free 'clean' (never-created table)
    p2 = str(tmp_path / "t2")
    spark.range(10).coalesce(1).write.parquet(p2)

    out = Pipeline().recover_on_start(
        spark, {"t1": path, "t2": p2, "never": str(tmp_path / "nope")}
    )
    assert out == {"t1": "forward", "t2": "clean", "never": "clean"}
    got = spark.read.parquet(path)
    assert got.count() == 200
    assert got.agg(F.sum("k")).first()[0] == sum(range(200))


def test_pipeline_health_probe(spark, tmp_path):
    """Pipeline.health: per-table table_health with per-table error
    isolation — observe-only (nothing mutated)."""
    p1 = str(tmp_path / "h1")
    spark.range(10).selectExpr("id AS k").coalesce(1).write.parquet(p1)
    out = Pipeline().health(
        spark, {"t1": p1, "missing": str(tmp_path / "nope")},
        target_bytes=1 << 20,
    )
    assert out["t1"]["n_files"] == 1
    assert out["t1"]["small_file_fraction"] == 1.0
    assert "error" in out["missing"]


def test_pipeline_maintain_closes_the_loop(spark, tmp_path):
    """r12 (VERDICT r11 task 2) e2e: a fragmented LIVE partitioned
    epoch sink with a stale manifest and a crashed-writer orphan; ONE
    maintain() tick compacts (newest live epoch excluded), refreshes
    the manifest via the swap, and vacuums the orphan; a second tick
    observes and does NOTHING; reads are exact throughout."""
    import time as _time

    from iot_sensor_data_pipeline_spark.sources.manifest import (
        table_health,
        write_manifest,
    )
    from iot_sensor_data_pipeline_spark.sources.sinks import parse_epoch_file
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    path = str(tmp_path / "mt")
    ckpt = "/ckpt/MAINT_E2E"
    sink = parquet_batch_sink(path, partition_cols=["dt"], checkpoint=ckpt)

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("dt"),
        ).repartition(2)

    for e in range(4):
        sink(batch(e * 100, (e + 1) * 100), e)
    write_manifest(spark, path, ["k"])
    sink(batch(400, 500), 4)  # manifest now stale; e4 = newest live epoch

    def read_keys():
        return {r.k for r in spark.read.parquet(path).select("k").collect()}

    assert read_keys() == set(range(500))

    # crashed-writer orphan for vacuum (backdated past the age fence)
    orphan = os.path.join(path, "_staging_e9_deadbeef_00000000")
    os.makedirs(orphan)
    stale = _time.time() - 7200
    os.utime(orphan, (stale, stale))

    p = Pipeline().track_table(
        "t", path, checkpoints=[ckpt], manifest_cols=["k"]
    )
    policy = MaintenancePolicy(target_bytes=1 << 30, min_files=4)
    res = p.maintain(spark, policy)
    a = res["t"]["actions"]
    assert a["optimize"]["status"] == "optimized"
    assert a["optimize"]["n_compacted"] > 0
    assert a["vacuum"]["n_sink_staging"] == 1 and not os.path.exists(orphan)
    assert "manifest_refresh" not in a  # the optimize swap refreshed it

    # the newest LIVE epoch's files survived compaction (a replay of
    # their uncommitted offsets must converge, not duplicate)
    survivors = {
        f for d in os.listdir(path) if d.startswith("dt=")
        for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
    }
    e4 = [f for f in survivors if (parse_epoch_file(f) or (None,))[0] == 4]
    assert e4, survivors
    assert read_keys() == set(range(500))  # reads exact after the swap

    h = table_health(spark, path, policy.target_bytes)
    assert h["manifest"]["n_uncovered"] == 0
    assert h["reclaimable"]["n_sink_staging"] == 0

    # second tick: signature unchanged -> observe only, mutate nothing
    res2 = p.maintain(spark, policy)
    assert res2["t"]["actions"] == {}
    assert read_keys() == set(range(500))

    # new data lands -> the signature hysteresis re-arms
    sink(batch(500, 600), 5)
    res3 = p.maintain(spark, policy)
    assert res3["t"]["actions"].get("optimize", {}).get("status") in (
        "optimized", "noop",
    )
    assert read_keys() == set(range(600))


def test_maintain_compacts_live_partitioned_sink_in_place(spark, tmp_path):
    """maintain() runs the one optimize_table on a tracked LIVE
    hive-partitioned epoch sink: bins pack within each partition dir,
    the newest live epoch survives in every partition it wrote, and
    every partition keeps exactly its rows."""
    from iot_sensor_data_pipeline_spark.sources.sinks import parse_epoch_file
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
    )

    path = str(tmp_path / "mpart")
    ckpt = "/ckpt/MAINT_PART"
    sink = parquet_batch_sink(path, partition_cols=["dt"], checkpoint=ckpt)
    for e in range(4):
        sink(
            spark.range(e * 90, (e + 1) * 90).select(
                F.col("id").alias("k"),
                F.concat(F.lit("d"), (F.col("id") % 3).cast("string")).alias("dt"),
            ).repartition(1),
            e,
        )

    def per_partition():
        return {
            r.dt: (r.n, r.s)
            for r in spark.read.parquet(path).groupBy("dt")
            .agg(F.count("*").alias("n"), F.sum("k").alias("s")).collect()
        }

    before = per_partition()
    pl = Pipeline().track_table("t", path, checkpoints=[ckpt])
    tick = pl.maintain(spark, MaintenancePolicy(target_bytes=1 << 30, min_files=2))
    opt = tick["t"]["actions"]["optimize"]
    assert opt["status"] == "optimized"
    assert opt["n_compacted"] == 9 and opt["n_partitions"] == 3
    for d in ("dt=d0", "dt=d1", "dt=d2"):
        names = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        epochs = {(parse_epoch_file(f) or (None,))[0] for f in names}
        assert epochs == {3, None}, (d, names)  # e3 live + one c-file
    assert per_partition() == before


def test_await_all_self_maintains_on_a_cadence(spark, tmp_path):
    """r12: the liveness loop itself runs maintenance ticks while the
    queries stay up — the reference's orchestrator polls forever and
    never acts; ours compacts its own sink tables as it watches."""
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    path = str(tmp_path / "selfmaint")
    for i in range(6):
        spark.range(i * 50, (i + 1) * 50).selectExpr("id AS k")\
            .coalesce(1).write.mode("append").parquet(path)

    p = Pipeline()
    dummy = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .start()
    )
    try:
        p.add("dummy", dummy)
        p.track_table("t", path)
        p.await_all(
            poll_seconds=0.2, timeout=8, spark=spark,
            maintenance_policy=MaintenancePolicy(
                target_bytes=1 << 30, min_files=4
            ),
            maintenance_interval_seconds=0.5,
        )
    finally:
        p.stop_all()
    # a tick ran (later no-op ticks may have overwritten the report of
    # the one that optimized — the durable evidence is the layout)
    assert p.last_maintenance.get("t"), p.last_maintenance
    names = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert names and all(f.startswith("c") for f in names)  # compacted
    assert spark.read.parquet(path).count() == 300  # reads exact


def test_maintain_error_isolation_and_cooldown(spark, tmp_path, monkeypatch):
    """A failing optimize reports {'error': ...} without touching the
    table, and cooldown_seconds rate-limits the retry; other tables in
    the same tick still maintain."""
    from iot_sensor_data_pipeline_spark.sources import manifest as M
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    def frag(name):
        path = str(tmp_path / name)
        for i in range(5):
            spark.range(i * 10, (i + 1) * 10).selectExpr("id AS k")\
                .coalesce(1).write.mode("append").parquet(path)
        return path

    broken, healthy = frag("broken"), frag("healthy")
    orig = M.optimize_table

    def explode(spark_, path, *a, **kw):
        if path == broken:
            raise RuntimeError("forced failure")
        return orig(spark_, path, *a, **kw)

    monkeypatch.setattr(M, "optimize_table", explode)

    p = Pipeline().track_table("b", broken).track_table("h", healthy)
    policy = MaintenancePolicy(
        target_bytes=1 << 30, min_files=4, cooldown_seconds=3600
    )
    res = p.maintain(spark, policy)
    assert "forced failure" in res["b"]["actions"]["error"]
    assert res["h"]["actions"]["optimize"]["status"] == "optimized"
    assert spark.read.parquet(broken).count() == 50  # untouched, exact

    # the failed attempt is cooldown-stamped: the next tick within the
    # window does NOT re-attempt (no second error entry)
    res2 = p.maintain(spark, policy)
    assert res2["b"]["actions"] == {}
    assert res2["h"]["actions"] == {}  # healthy: signature hysteresis


def test_pipeline_maintain_retention_expires_partitions(spark, tmp_path):
    """r12 retention: a date-partitioned live sink tracked with a
    RetentionSpec expires its oldest partitions on the maintain tick —
    EXCEPT a doomed subtree still holding the live lineage's newest
    epoch, which is skipped this tick (on_live='skip') and expires on
    a later one once a fresh epoch seals it. Reads stay exact and the
    as-of watermark arms for the dropped epochs."""
    from iot_sensor_data_pipeline_spark.sources.sinks import (
        parquet_batch_sink,
        read_compacted_through,
    )
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
        RetentionSpec,
    )

    path = str(tmp_path / "ret")
    ckpt = "/ckpt/RET_E2E"
    sink = parquet_batch_sink(path, partition_cols=["dt"], checkpoint=ckpt)
    days = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    for e, dt in enumerate(days):
        sink(
            spark.range(e * 10, (e + 1) * 10).select(
                F.col("id").alias("k"), F.lit(dt).alias("dt")
            ).coalesce(1),
            e,
        )

    p = Pipeline().track_table(
        "t", path, checkpoints=[ckpt],
        retention=RetentionSpec(column="dt", keep_latest=2),
    )
    policy = MaintenancePolicy(target_bytes=1 << 30, min_files=999)
    res = p.maintain(spark, policy)
    ret = res["t"]["actions"]["retention"]
    assert ret["status"] == "dropped"
    assert ret["n_partitions_dropped"] == 2 and ret["skipped_live"] == []
    got = spark.read.parquet(path)
    dts = {r.dt for r in got.select(F.col("dt").cast("string").alias("dt")).distinct().collect()}
    assert dts == set(days[2:])
    assert got.count() == 20
    # epochs 0 and 1 vanished with their partitions -> watermark 1
    assert read_compacted_through(spark, path, ckpt) == 1

    # second tick: nothing left to expire
    res2 = p.maintain(spark, policy)
    assert "retention" not in res2["t"]["actions"]

    # the live lineage's NEWEST epoch lands in an already-old partition
    # (late data): a drop_below cutoff dooms it, but the tick SKIPS it
    sink(
        spark.range(100, 110).select(
            F.col("id").alias("k"), F.lit("2024-01-03").alias("dt")
        ).coalesce(1),
        4,
    )
    p2 = Pipeline().track_table(
        "t", path, checkpoints=[ckpt],
        retention=RetentionSpec(column="dt", drop_below="2024-01-04"),
    )
    res3 = p2.maintain(spark, policy)
    ret3 = res3["t"]["actions"]["retention"]
    assert ret3["skipped_live"] == ["dt=2024-01-03"]
    assert ret3["n_partitions_dropped"] == 0
    assert spark.read.parquet(path).where("dt = '2024-01-03'").count() == 20

    # a fresh epoch seals e4 elsewhere; the next tick expires the
    # skipped subtree
    sink(
        spark.range(200, 210).select(
            F.col("id").alias("k"), F.lit("2024-01-05").alias("dt")
        ).coalesce(1),
        5,
    )
    res4 = p2.maintain(spark, policy)
    ret4 = res4["t"]["actions"]["retention"]
    assert ret4["status"] == "dropped" and ret4["skipped_live"] == []
    got = spark.read.parquet(path)
    assert {
        r.dt
        for r in got.select(F.col("dt").cast("string").alias("dt"))
        .distinct().collect()
    } == {"2024-01-04", "2024-01-05"}


def test_drop_partitions_on_live_modes(spark, tmp_path):
    """Standalone drop_partitions: on_live='raise' refuses when a
    doomed subtree holds the live newest epoch; on_live='skip' drops
    the safe subtrees and reports the hot one."""
    import pytest as _pytest

    from iot_sensor_data_pipeline_spark.sources.mutations import (
        drop_partitions,
    )
    from iot_sensor_data_pipeline_spark.sources.sinks import (
        parquet_batch_sink,
    )

    path = str(tmp_path / "dl")
    ckpt = "/ckpt/DROPLIVE"
    sink = parquet_batch_sink(path, partition_cols=["dt"], checkpoint=ckpt)
    sink(spark.range(10).select(F.col("id").alias("k"),
                                F.lit("a").alias("dt")).coalesce(1), 0)
    sink(spark.range(10, 20).select(F.col("id").alias("k"),
                                    F.lit("b").alias("dt")).coalesce(1), 1)
    # newest epoch (1) lives in dt=b; dooming both partitions:
    with _pytest.raises(RuntimeError, match="NEWEST"):
        drop_partitions(spark, path, {"dt": ["a", "b"]},
                        live_checkpoints=[ckpt])
    res = drop_partitions(spark, path, {"dt": ["a", "b"]},
                          live_checkpoints=[ckpt], on_live="skip")
    assert res["status"] == "dropped"
    assert res["skipped_live"] == ["dt=b"]
    got = spark.read.parquet(path)
    assert {r.dt for r in got.select("dt").distinct().collect()} == {"b"}


def test_pipeline_maintain_refreshes_matviews(spark, tmp_path):
    """The maintenance tick keeps a tracked MV fresh: first tick
    self-creates it (spec declares keys/value_col), a feed-carrying
    mutation then lands, the next tick folds it in, and a steady-state
    tick reports empty actions. A refresh-only spec on a missing view
    reports 'absent' instead of erroring."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.sources.matview import (
        read_agg_partials,
    )
    from iot_sensor_data_pipeline_spark.sources.mutations import delete_where
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        MatviewSpec,
        Pipeline,
    )

    path = str(tmp_path / "t")
    mv = str(tmp_path / "mv")
    spark.range(0, 200).select(
        F.col("id"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
        (F.col("id") % 31).cast("double").alias("v"),
    ).repartition(4).write.parquet(path)

    pl = (
        Pipeline()
        .track_table("t", path)
        .track_matview("t_by_grp", "t", mv, keys=["grp"], value_col="v")
        .track_matview("ghost", "t", str(tmp_path / "nope"))
    )
    pol = MaintenancePolicy(target_bytes=1 << 30, min_files=1000)

    tick = pl.maintain(spark, pol)
    assert tick["t_by_grp"]["actions"]["mv_create"]["n_groups"] == 4
    assert tick["ghost"]["actions"] == {"status": "absent"}

    delete_where(spark, path, F.col("v") < 3, change_feed=True)
    tick = pl.maintain(spark, pol)
    assert tick["t_by_grp"]["actions"]["mv_refresh"]["status"] == "refreshed"
    got = {
        r["grp"]: (r["n_rows"], round(r["sum_v"], 6))
        for r in read_agg_partials(spark, mv).collect()
    }
    exp = {
        r["grp"]: (r["n"], round(r["s"], 6))
        for r in spark.read.parquet(path).groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        ).collect()
    }
    assert got == exp

    # steady state: the MV poll decides nothing, mutates nothing
    tick = pl.maintain(spark, pol)
    assert tick["t_by_grp"]["actions"] == {}

    # per-view isolation: a broken spec (self-create against a source
    # with no data files) errors in ITS slot only
    pl.track_matview(
        "broken", str(tmp_path / "no_table"), str(tmp_path / "mv2"),
        keys=["grp"], value_col="v",
    )
    tick = pl.maintain(spark, pol)
    assert "error" in tick["broken"]["actions"]
    assert tick["t_by_grp"]["actions"] == {}

    with _pytest.raises(ValueError, match="already a tracked table"):
        pl.track_matview("t", "t", mv)
    with _pytest.raises(ValueError, match="come together"):
        MatviewSpec("t", mv, keys=("grp",), value_col=None)


def test_maintain_epoch_caps_fence_mv_cursor(spark, tmp_path, monkeypatch):
    """ADVICE r12 (medium): an epoch sealing BETWEEN the tick's MV
    refresh and its OPTIMIZE must not get compacted past the view's
    cursor — pre-fix, the watermark would land above the cursor and
    every later refresh would raise the epoch-gap error permanently.
    The fix caps OPTIMIZE's compactable epochs at the view's
    post-refresh cursor; the fenced epoch compacts on a later tick."""
    from iot_sensor_data_pipeline_spark.sources import matview as MV
    from iot_sensor_data_pipeline_spark.sources.matview import (
        read_agg_partials,
    )
    from iot_sensor_data_pipeline_spark.sources.sinks import parse_epoch_file
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    path = str(tmp_path / "t")
    mv = str(tmp_path / "mv")
    ckpt = "/ckpt/EPOCH_CAPS"
    sink = parquet_batch_sink(path, checkpoint=ckpt)

    def batch(e):
        return spark.range(e * 100, (e + 1) * 100).select(
            F.col("id"),
            (F.col("id") % 5).cast("string").alias("g"),
            (F.col("id") % 13).cast("double").alias("v"),
        ).coalesce(1)

    sink(batch(0), 0)
    sink(batch(1), 1)  # newest live epoch at tick 1
    # extra plain small files so the optimize trigger has a bin to pack
    for i in range(3):
        spark.range(1000 + i, 1001 + i).select(
            F.col("id"), F.lit("x").alias("g"), F.lit(0.0).alias("v")
        ).coalesce(1).write.mode("append").parquet(path)

    pl = (
        Pipeline()
        .track_table("t", path, checkpoints=[ckpt])
        .track_matview("t_mv", "t", mv, keys=["g"], value_col="v")
    )
    lazy_pol = MaintenancePolicy(target_bytes=1 << 30, min_files=1000)
    tick = pl.maintain(spark, lazy_pol)  # create: absorbs e0 only
    assert list(
        tick["t_mv"]["actions"]["mv_create"]["epoch_cursors"].values()
    ) == [0]

    # the race: e2 seals e1 AFTER the refresh returns, BEFORE OPTIMIZE
    real_refresh = MV.refresh_agg_view

    def refresh_then_seal(*a, **kw):
        res = real_refresh(*a, **kw)
        sink(batch(2), 2)
        return res

    monkeypatch.setattr(MV, "refresh_agg_view", refresh_then_seal)
    eager_pol = MaintenancePolicy(target_bytes=1 << 30, min_files=2)
    tick = pl.maintain(spark, eager_pol)
    monkeypatch.undo()
    assert tick["t"]["actions"]["optimize"]["status"] == "optimized"
    # e1 survived the compaction (MV cursor 0 fenced it); e2 too (newest)
    names = [f for f in os.listdir(path) if f.endswith(".parquet")]
    epochs_left = {(parse_epoch_file(f) or (None,))[0] for f in names}
    assert 1 in epochs_left and 2 in epochs_left
    assert 0 not in epochs_left  # absorbed epoch e0 DID compact

    # next tick: the refresh absorbs e1 WITHOUT the epoch-gap error
    tick = pl.maintain(spark, lazy_pol)
    ref = tick["t_mv"]["actions"]["mv_refresh"]
    assert ref["status"] == "refreshed"
    assert ref["n_epoch_files_absorbed"] == 1
    assert list(ref["epoch_cursors"].values()) == [1]
    # the view matches a rebuild over what it should cover (e0+e1+plain)
    got = sum(r.n_rows for r in read_agg_partials(spark, mv).collect())
    assert got == 203


def test_maintain_scopes_matviews_and_symmetric_name_collision(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: maintain(tables=...) scopes the MATVIEW loop too
    (an out-of-scope view is not even polled), and track_table rejects
    a name already used by track_matview."""
    import pytest as _pytest

    from iot_sensor_data_pipeline_spark.sources import matview as MV
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    for p in (t1, t2):
        spark.range(0, 50).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("g"),
            F.col("id").cast("double").alias("v"),
        ).coalesce(1).write.parquet(p)
    pl = (
        Pipeline()
        .track_table("t1", t1)
        .track_table("t2", t2)
        .track_matview("mv1", "t1", str(tmp_path / "mv1"),
                       keys=["g"], value_col="v")
        .track_matview("mv2", "t2", str(tmp_path / "mv2"),
                       keys=["g"], value_col="v")
    )
    pol = MaintenancePolicy(target_bytes=1 << 30, min_files=1000)
    calls = []
    real_create = MV.create_agg_view

    def spy_create(spark_, src_path, *a, **kw):
        calls.append(src_path)
        return real_create(spark_, src_path, *a, **kw)

    monkeypatch.setattr(MV, "create_agg_view", spy_create)
    tick = pl.maintain(spark, pol, tables={"t2": pl.tables["t2"]})
    assert calls == [t2]  # mv1 was not polled at all
    assert "mv1" not in tick and "mv_create" in tick["mv2"]["actions"]

    with _pytest.raises(ValueError, match="already a tracked matview"):
        pl.track_table("mv1", t1)


def test_maintain_feed_expiry_isolated_and_skips_absent_matview(
    spark, tmp_path
):
    """ADVICE r12: feed expiry runs in its own try — a typo'd
    feed_consumers path reports feed_expiry_error without polluting the
    table's other actions or its optimize cooldown — and an ABSENT
    tracked matview (deleted for re-baseline) is skipped as a consumer
    instead of raising every tick."""
    import shutil

    from iot_sensor_data_pipeline_spark.sources.mutations import (
        change_feed_versions,
        delete_where,
    )
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    path = str(tmp_path / "t")
    mv = str(tmp_path / "mv")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("g"),
        F.col("id").cast("double").alias("v"),
    ).coalesce(1).write.parquet(path)

    pl = (
        Pipeline()
        .track_table("t", path, feed_keep=1,
                     feed_consumers=[str(tmp_path / "TYPO")])
        .track_matview("t_mv", "t", mv)  # refresh-only spec
    )
    pol = MaintenancePolicy(target_bytes=1 << 30, min_files=1000)
    for i in range(3):
        delete_where(spark, path, f"id = {i}", change_feed=True)

    # the typo'd explicit consumer fails LOUDLY but only in its slot
    tick = pl.maintain(spark, pol)
    a = tick["t"]["actions"]
    assert "feed_expiry_error" in a and "does not exist" in a["feed_expiry_error"]
    assert "error" not in a  # the table's other steps were not polluted
    assert pl._maint_state.get("t") is None  # no cooldown stamped
    assert change_feed_versions(spark, path) == [1, 2, 3]

    # fix the consumer list; the ABSENT tracked matview must be skipped
    # (mv was never created — a refresh-only spec on a missing view)
    import dataclasses

    pl.tables["t"] = dataclasses.replace(pl.tables["t"], feed_consumers=())
    tick = pl.maintain(spark, pol)
    exp = tick["t"]["actions"]["feed_expiry"]
    assert exp["n_expired"] == 2
    assert change_feed_versions(spark, path) == [3]
    shutil.rmtree(mv, ignore_errors=True)


def test_maintain_interleaved_stream_mutation_matview(spark, tmp_path):
    """VERDICT r12 task 7 — the interleaving where IVM systems rot: a
    LIVE epoch sink keeps appending, feed-carried mutations land on
    already-absorbed epochs, and maintain() ticks (matview refresh +
    OPTIMIZE + feed expiry) run between them. At EVERY tick the view
    must equal a from-scratch rebuild over exactly the files the view
    should cover (everything but the live lineage's newest epoch), and
    the tick's own compaction must never strand the view's cursors."""
    from iot_sensor_data_pipeline_spark.sources import matview as MV
    from iot_sensor_data_pipeline_spark.sources import mutations as MU
    from iot_sensor_data_pipeline_spark.sources.matview import (
        read_agg_partials,
    )
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        delete_where,
        update_where,
    )
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    path = str(tmp_path / "t")
    mv = str(tmp_path / "mv")
    ckpt = "/ckpt/INTERLEAVE"
    sink = parquet_batch_sink(path, checkpoint=ckpt)

    def batch(e):
        return spark.range(e * 100, (e + 1) * 100).select(
            F.col("id"),
            (F.col("id") % 5).cast("string").alias("g"),
            (F.col("id") % 13).cast("double").alias("v"),
        ).repartition(2)

    def rebuild():
        """From-scratch aggregate over the files the MV should cover."""
        part_cols, files = MV._list_files(spark, path, [ckpt])
        _ds, schema = MU._read_schema_for(spark, path, files, part_cols)
        df = MU._read_files(spark, path, files, schema)
        return {
            r.g: (r.n, round(r.s, 6))
            for r in df.groupBy("g").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
            ).collect()
        }

    def view():
        return {
            r.g: (r.n_rows, round(r.sum_v, 6))
            for r in read_agg_partials(spark, mv).collect()
        }

    pl = (
        Pipeline()
        .track_table("t", path, checkpoints=[ckpt], feed_keep=2)
        .track_matview("t_mv", "t", mv, keys=["g"], value_col="v")
    )
    pol = MaintenancePolicy(target_bytes=1 << 30, min_files=3)

    sink(batch(0), 0)
    sink(batch(1), 1)
    pl.maintain(spark, pol)  # creates the view over e0 (e1 is newest)
    assert view() == rebuild()

    for e in range(2, 6):
        sink(batch(e), e)
        # mutations touch only epochs the view has ALREADY absorbed
        # (<= its cursor, e-2): mutating an unabsorbed epoch-named file
        # would legitimately raise the epoch-gap guard — that contract
        # is pinned in test_matview; here the loop stays inside it
        hi = (e - 1) * 100
        if e % 2 == 0:
            update_where(
                spark, path,
                (F.col("id") % 17 == 0) & (F.col("id") < hi),
                {"v": F.col("v") + F.lit(100.0)},
                change_feed=True, live_checkpoints=[ckpt],
            )
        else:
            delete_where(
                spark, path,
                (F.col("id") % 23 == 0) & (F.col("id") < hi),
                change_feed=True, live_checkpoints=[ckpt],
            )
        tick = pl.maintain(spark, pol)
        assert "error" not in tick["t_mv"]["actions"], tick
        assert "error" not in tick["t"]["actions"], tick
        assert view() == rebuild(), f"diverged at epoch {e}"

    # seal the last epoch and converge: view == FULL table aggregate
    sink(batch(6), 6)
    tick = pl.maintain(spark, pol)
    assert view() == rebuild()
    full = {
        r.g: (r.n, round(r.s, 6))
        for r in spark.read.parquet(path)
        .where(~F.input_file_name().rlike("/e6-"))
        .groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        ).collect()
    }
    assert view() == full


def test_maintain_syncs_search_indexes(spark, tmp_path):
    """r13: the maintenance tick keeps tracked search indexes (BM25 tf
    + positional) in step with the corpus feed — first tick baselines
    both, mutations land, the next tick syncs them to equal
    from-scratch rebuilds, a steady-state tick reports empty actions,
    and feed expiry clamps to the slower index cursor."""
    import pytest as _pytest

    from iot_sensor_data_pipeline_spark.operators.retrieval import (
        build_inverted_index,
        positional_index,
    )
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        change_feed_versions,
        delete_where,
        update_where,
    )
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
        SearchIndexSpec,
    )

    corpus = str(tmp_path / "corpus")
    tf_idx = str(tmp_path / "tf")
    pos_idx = str(tmp_path / "pos")
    spark.createDataFrame(
        [(i, f"doc number {i} has words and words") for i in range(20)],
        "doc_id long, text string",
    ).repartition(2).write.parquet(corpus)

    pl = (
        Pipeline()
        .track_table("corpus", corpus, feed_keep=1)
        .track_search_index("bm25", "corpus", tf_idx, kind="tf")
        .track_search_index("phrases", "corpus", pos_idx,
                            kind="positional")
    )
    pol = MaintenancePolicy(target_bytes=1 << 30, min_files=1000)

    tick = pl.maintain(spark, pol)
    assert tick["bm25"]["actions"]["index_create"]["kind"] == "tf"
    assert tick["phrases"]["actions"]["index_create"]["kind"] == "positional"

    delete_where(spark, corpus, "doc_id = 3", change_feed=True)
    update_where(spark, corpus, "doc_id = 5",
                 {"text": F.lit("rewritten fifth document")},
                 change_feed=True)
    tick = pl.maintain(spark, pol)
    assert tick["bm25"]["actions"]["index_sync"]["applied_versions"] == [1, 2]
    assert tick["phrases"]["actions"]["index_sync"]["applied_versions"] == [1, 2]

    cur = spark.read.parquet(corpus)
    assert sorted(map(tuple, spark.read.parquet(tf_idx).select(
        "term", "doc_id", "tf", "dl").collect())) == sorted(map(
        tuple, build_inverted_index(cur).select(
            "term", "doc_id", "tf", "dl").collect()))
    assert sorted(map(tuple, spark.read.parquet(pos_idx).select(
        "term", "doc_id", "pos").collect())) == sorted(map(
        tuple, positional_index(cur).select(
            "term", "doc_id", "pos").collect()))
    # feed expiry ran in the same tick and the synced indexes (cursor
    # 2) let it expire v1 down to feed_keep=1
    assert change_feed_versions(spark, corpus) == [2]

    # steady state: nothing to do anywhere
    tick = pl.maintain(spark, pol)
    assert tick["bm25"]["actions"] == {}
    assert tick["phrases"]["actions"] == {}

    # name collisions are symmetric across all three registries
    with _pytest.raises(ValueError, match="already a tracked"):
        pl.track_table("bm25", corpus)
    with _pytest.raises(ValueError, match="already a tracked"):
        pl.track_matview("phrases", "corpus", str(tmp_path / "mv"))
    with _pytest.raises(ValueError, match="already a tracked"):
        pl.track_search_index("corpus", "corpus", str(tmp_path / "x"))
    with _pytest.raises(ValueError, match="kind must be"):
        SearchIndexSpec("corpus", tf_idx, kind="vector")


def test_pipeline_maintain_expires_feed_with_consumer_clamp(spark, tmp_path):
    """The maintain tick expires the change feed down to feed_keep,
    but never past the tick's own tracked matview (which refreshes
    first, so expiry usually proceeds) or an external feed_consumers
    path; steady state reports no feed action."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.sources.mutations import (
        change_feed_versions,
        delete_where,
        sync_from_change_feed,
    )
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    path = str(tmp_path / "t")
    mv = str(tmp_path / "mv")
    replica = str(tmp_path / "rep")
    df = spark.range(0, 120).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 11).cast("double").alias("v"),
    )
    df.repartition(3).write.parquet(path)
    df.repartition(2).write.parquet(replica)

    pl = (
        Pipeline()
        .track_table("t", path, feed_keep=1, feed_consumers=[replica])
        .track_matview("t_mv", "t", mv, keys=["g"], value_col="v")
    )
    pol = MaintenancePolicy(target_bytes=1 << 30, min_files=1000)
    pl.maintain(spark, pol)  # creates the MV (cursor 0, no feed yet)

    for lo in (0, 20, 40):
        delete_where(
            spark, path, (F.col("id") >= lo) & (F.col("id") < lo + 2),
            change_feed=True,
        )
    # the REPLICA has not synced (cursor 0): expiry must clamp to it
    # even though the tick's matview refreshes first
    tick = pl.maintain(spark, pol)
    assert tick["t_mv"]["actions"]["mv_refresh"]["feed_version"] == 3
    exp = tick["t"]["actions"]["feed_expiry"]
    assert exp["n_expired"] == 0
    assert exp["clamped_by"]["consumer"] == replica
    assert change_feed_versions(spark, path) == [1, 2, 3]

    # replica catches up -> the next tick expires down to feed_keep
    sync_from_change_feed(spark, path, replica, on=["id"])
    tick = pl.maintain(spark, pol)
    exp = tick["t"]["actions"]["feed_expiry"]
    assert exp["n_expired"] == 2 and exp["oldest_retained"] == 3
    assert change_feed_versions(spark, path) == [3]

    # steady state: nothing to expire, no action reported
    tick = pl.maintain(spark, pol)
    assert tick["t"]["actions"] == {}
    assert tick["t_mv"]["actions"] == {}


def test_maintain_compacts_search_index_preserving_stats(spark, tmp_path):
    """r15 (VERDICT r14 task 6): every sync APPENDS posting files, so
    a followed index fragments without bound — the maintenance tick
    now runs the table policy's health→OPTIMIZE on the index
    directory. N mutation+sync rounds fragment the index; a
    compaction-friendly tick compacts it in place, preserving the
    _sync_state.json cursor + corpus stats; a sidecar-stats probe over
    the compacted index equals a from-scratch rebuild's inline probe;
    and the steady-state tick after that is all-empty actions."""
    import os

    from iot_sensor_data_pipeline_spark.operators.retrieval import (
        bm25_topk,
        index_corpus_stats,
    )
    from iot_sensor_data_pipeline_spark.sources.mutations import (
        update_where,
    )
    from iot_sensor_data_pipeline_spark.streaming.orchestrator import (
        MaintenancePolicy,
        Pipeline,
    )

    corpus = str(tmp_path / "corpus")
    tf_idx = str(tmp_path / "tf")
    spark.createDataFrame(
        [(i, f"document {i} carries common words and token{i}")
         for i in range(30)],
        "doc_id long, text string",
    ).repartition(2).write.parquet(corpus)

    pl = (
        Pipeline()
        .track_table("corpus", corpus)
        .track_search_index("bm25", "corpus", tf_idx, kind="tf")
    )
    # fragmentation phase: min_files high enough that OPTIMIZE never
    # triggers while the syncs append
    quiet_pol = MaintenancePolicy(target_bytes=1 << 30, min_files=10_000)
    pl.maintain(spark, quiet_pol)  # baselines the index
    for i in range(4):
        update_where(
            spark, corpus, f"doc_id = {i}",
            {"text": F.lit(f"rewritten number {i} with fresh tokens")},
            change_feed=True,
        )
        tick = pl.maintain(spark, quiet_pol)
        assert "optimize" not in tick["bm25"]["actions"]

    def idx_files():
        return [
            f for f in os.listdir(tf_idx)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]

    frag = len(idx_files())
    assert frag >= 5  # baseline + four sync appends

    compact_pol = MaintenancePolicy(
        target_bytes=1 << 30, min_files=4, small_file_fraction=0.5
    )
    tick = pl.maintain(spark, compact_pol)
    res = tick["bm25"]["actions"]["optimize"]
    assert res["status"] == "optimized"
    after = len(idx_files())
    assert after < frag and after <= 2

    # the sidecar survived the swap: cursor intact (a steady-state
    # sync is still a no-op) and stats match a live recount
    stats = index_corpus_stats(spark, tf_idx)
    qs = spark.createDataFrame(
        [(1, "common token3 fresh")], "query_id int, query_text string"
    )
    via_compacted = sorted(map(tuple, bm25_topk(
        None, qs, k=5, index=spark.read.parquet(tf_idx), stats=stats,
    ).collect()))
    via_rebuild = sorted(map(tuple, bm25_topk(
        spark.read.parquet(corpus), qs, k=5
    ).collect()))
    assert via_compacted == via_rebuild and via_compacted

    # steady state: compacted files sit under target_bytes but the
    # signature hysteresis + file floor keep the tick all-empty
    tick = pl.maintain(spark, compact_pol)
    assert tick["bm25"]["actions"] == {}
