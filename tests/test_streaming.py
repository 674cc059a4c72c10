"""Streaming semantics (SURVEY.md §7 hard part 1): the FIXTURES.md §3
golden scenario — watermark finalization, append-mode emit-once, late
rows dropped — plus single-read multi-sink fan-out and
dropDuplicatesWithinWatermark.

Micro-batch boundaries are controlled by writing one JSON-lines file
per batch and calling processAllAvailable() between writes: the text
file source + full ingest path is exactly the Kafka wire path minus
the broker.
"""

from __future__ import annotations

import json
import time

import pytest

from iot_sensor_data_pipeline_spark.sources.json_ingest import ingest_readings
from iot_sensor_data_pipeline_spark.streaming.jobs import (
    start_aggregator,
    start_ingest,
)

T0 = "2026-01-01T00:00:"


def reading_json(mm_ss: str, value: float, battery: int = 80, signal: int = -55):
    m, s = mm_ss.split(":")
    return json.dumps(
        {
            "sensor_id": "A_1_100_temperature",
            "sensor_type": "temperature",
            "location": {"building": "A", "floor": 1, "room": "100"},
            "timestamp": f"2026-01-01T00:{m}:{s}",
            "value": value,
            "unit": "celsius",
            "metadata": {"battery_level": battery, "signal_strength": signal},
        }
    )


def write_batch(dirpath, name, lines):
    # write-then-rename so the file source never sees a partial file
    tmp = dirpath / f".{name}.tmp"
    tmp.write_text("\n".join(lines) + "\n")
    tmp.rename(dirpath / name)
    time.sleep(0.05)


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return src, str(tmp_path / "chk"), tmp_path


def test_golden_watermark_append_scenario(spark, stream_dirs):
    """FIXTURES.md §3: window [T, T+4m) finalizes once with r1-r5 only;
    r7 (late beyond watermark) is dropped silently."""
    src, chk, tmp = stream_dirs
    collected: list = []

    raw = spark.readStream.text(str(src))
    q = start_aggregator(
        raw,
        sinks=[lambda df: collected.extend(df.collect())],
        checkpoint=chk,
        window_duration="4 minutes",
        watermark="1 minute",
    )
    try:
        # batch 1: r1-r5 (all inside [T, T+4m)) -> nothing finalized
        write_batch(
            src,
            "b1.json",
            [
                reading_json("00:10", 22.0),
                reading_json("01:10", 28.0),
                reading_json("02:10", 31.0),
                reading_json("02:20", 22.0, battery=15),
                reading_json("02:30", 31.0, battery=15),
            ],
        )
        q.processAllAvailable()
        assert collected == []  # append mode: window still open

        # batch 2: r6 at T+5:30 -> watermark advances to T+4:30 > window end
        write_batch(src, "b2.json", [reading_json("05:30", 23.0)])
        q.processAllAvailable()
        # batch 3: r7 late (T+3:00 < watermark) -> dropped; also flushes
        # the finalized window if it wasn't already emitted in batch 2
        write_batch(src, "b3.json", [reading_json("03:00", 99.0)])
        q.processAllAvailable()

        windows = [r for r in collected if r.window_start.minute == 0]
        assert len(windows) == 1  # emit-once
        w = windows[0]
        assert w.n == 5
        assert w.min_value == 22.0
        assert w.max_value == 31.0  # NOT 99.0: the late r7 never entered
        assert round(w.avg_value, 4) == 26.8
    finally:
        q.stop()


def test_alert_stream_single_read_multi_sink(spark, stream_dirs):
    """One source read fans out to two sinks from the same batch
    (fixes the reference's double Kafka subscription, SURVEY.md §3.3)."""
    src, chk, tmp = stream_dirs
    sink_a: list = []
    sink_b: list = []

    raw = spark.readStream.text(str(src))
    q = start_ingest(
        raw,
        readings_sinks=[],
        alerts_sinks=[
            lambda df: sink_a.extend(df.collect()),
            lambda df: sink_b.extend(r.alert_type for r in df.collect()),
        ],
        checkpoint=chk,
    )
    try:
        write_batch(
            src,
            "b1.json",
            [reading_json("00:10", 22.0), reading_json("01:10", 28.0), reading_json("02:10", 31.0)],
        )
        q.processAllAvailable()
        assert sorted(r.alert_type for r in sink_a) == ["temperature_critical", "temperature_warning"]
        assert sorted(sink_b) == ["temperature_critical", "temperature_warning"]
    finally:
        q.stop()


def test_epoch_aware_sink_receives_epoch_id(spark, stream_dirs):
    """Sinks declaring a second parameter get the foreachBatch epoch id
    (the replay-dedup key the idempotent JDBC sink stamps)."""
    src, chk, tmp = stream_dirs
    plain: list = []
    epochs: list = []

    def epoch_sink(df, epoch_id):
        epochs.append((epoch_id, df.count()))

    raw = spark.readStream.text(str(src))
    q = start_ingest(
        raw,
        readings_sinks=[],
        alerts_sinks=[lambda df: plain.extend(df.collect()), epoch_sink],
        checkpoint=chk,
    )
    try:
        write_batch(src, "b1.json", [reading_json("00:10", 31.0)])
        q.processAllAvailable()
        write_batch(src, "b2.json", [reading_json("01:00", 32.0)])
        q.processAllAvailable()
        assert len(plain) == 2
        assert [n for _, n in epochs] == [1, 1]
        assert epochs[0][0] != epochs[1][0]  # distinct epoch ids delivered
    finally:
        q.stop()


def test_fanout_evaluates_each_row_once_per_batch(spark, stream_dirs):
    """The fan-out's emptiness probe reads the persisted batch: every
    input row runs through the batch's lineage exactly once per
    micro-batch, probe and sink together. The UDF sits in a filter, so
    the probe's column pruning cannot drop it (a stateful job's state
    stage cannot be pruned either). Each evaluation appends one byte to
    a file: an accumulator loses the updates of a task cut short by the
    probe's LIMIT 1."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.streaming.jobs import _start

    src, chk, tmp = stream_dirs
    evals = tmp / "evals"
    evals.write_text("")
    evals_path = str(evals)

    @F.udf("long")
    def counted(v):
        with open(evals_path, "a") as fh:
            fh.write("x")
        return len(v)

    got: list = []
    df = spark.readStream.text(str(src)).where(counted("value") > 0)
    q = _start(df, [lambda b: got.extend(b.collect())], chk)
    try:
        for i in range(2):
            write_batch(src, f"b{i}.txt", [f"row-{i}-{j}" for j in range(20)])
            q.processAllAvailable()
            assert len(got) == 20 * (i + 1)
            assert len(evals.read_text()) == 20 * (i + 1)
    finally:
        q.stop()


def test_dead_letter_fanout_evaluates_each_row_once_per_batch(spark, stream_dirs):
    """The quarantining fan-out persists the parsed batch before its
    first emptiness probe: every wire row, corrupt ones included, runs
    through the source lineage exactly once per micro-batch while the
    batch feeds the dead-letter, readings and alerts sinks. Counted as
    in :func:`test_fanout_evaluates_each_row_once_per_batch`."""
    from pyspark.sql import functions as F

    src, chk, tmp = stream_dirs
    evals = tmp / "evals"
    evals.write_text("")
    evals_path = str(evals)

    @F.udf("long")
    def counted(v):
        with open(evals_path, "a") as fh:
            fh.write("x")
        return len(v)

    readings: list = []
    alerts: list = []
    dead: list = []
    raw = spark.readStream.text(str(src)).where(counted("value") > 0)
    q = start_ingest(
        raw,
        readings_sinks=[lambda b: readings.extend(b.collect())],
        alerts_sinks=[lambda b: alerts.extend(b.collect())],
        checkpoint=chk,
        dead_letter=lambda b: dead.extend(b.collect()),
    )
    try:
        for i in range(2):
            lines = [reading_json(f"0{i}:{j:02d}", 31.0 if j == 0 else 22.0) for j in range(20)]
            write_batch(src, f"b{i}.json", [*lines, '{"sensor_id": "broken",'])
            q.processAllAvailable()
            assert len(readings) == 20 * (i + 1)
            assert len(alerts) == i + 1 and len(dead) == i + 1
            assert len(evals.read_text()) == 21 * (i + 1)
    finally:
        q.stop()


def test_streaming_batch_share_transform(spark, stream_dirs):
    """The SAME detect_alerts/ingest pipeline runs in batch mode with
    identical results — unified API, zero code duplication."""
    from iot_sensor_data_pipeline_spark.functions.rules import detect_alerts

    lines = [reading_json("00:10", 22.0), reading_json("01:10", 28.0)]
    batch_df = spark.createDataFrame([(line,) for line in lines], "value string")
    alerts = detect_alerts(ingest_readings(batch_df)).collect()
    assert [a.alert_type for a in alerts] == ["temperature_warning"]


def test_cdc_apply_stream_maintains_versioned_snapshot(spark, tmp_path):
    """CDC change stream folds into an epoch-versioned snapshot:
    updates/deletes/inserts apply across micro-batches AND across a
    restart; readers always see a complete version; old versions are
    pruned to keep_versions."""
    import json as _json

    from iot_sensor_data_pipeline_spark.sources.manifest import _versions_in
    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        read_cdc_snapshot,
        start_cdc_apply,
    )

    src = tmp_path / "cdc_src"
    src.mkdir()
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "cdc_ckpt")

    def write_batch(fname, rows):
        (src / fname).write_text(
            "\n".join(
                _json.dumps({"k": k, "v": v, "op": op, "seq": seq})
                for k, v, op, seq in rows
            )
        )

    def drain():
        ch = spark.readStream.schema("k long, v string, op string, seq long").json(
            str(src)
        )
        q = start_cdc_apply(
            ch, snap, ckpt, keys=["k"], seq_col="seq", available_now=True,
            keep_versions=2,
        )
        q.awaitTermination(120)

    # batch 1: initial inserts, one same-batch update override
    write_batch("c1.json", [
        (1, "a", "insert", 1), (2, "b", "insert", 1), (1, "a2", "update", 2),
    ])
    drain()
    s1 = {r.k: r.v for r in read_cdc_snapshot(spark, snap).collect()}
    assert s1 == {1: "a2", 2: "b"}

    # batch 2 after RESTART: delete k=2, insert k=3
    write_batch("c2.json", [(2, None, "delete", 3), (3, "c", "insert", 3)])
    drain()
    s2 = {r.k: r.v for r in read_cdc_snapshot(spark, snap).collect()}
    assert s2 == {1: "a2", 3: "c"}

    # pruning: at most keep_versions version dirs remain
    assert len(_versions_in(spark, snap)) <= 2


def test_cdc_apply_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    """Bucket-pruned CDC maintenance: a batch touching one bucket
    rewrites ONLY that bucket (measured bytes, not a plan claim);
    untouched buckets carry forward by manifest reference; deletes can
    empty a bucket out of the manifest; a replayed epoch (commit record
    removed -> at-least-once re-run) converges to the same snapshot."""
    import json as _json
    import os

    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        CDC_BUCKET_COL,
        _bucket_manifest_versions,
        _read_bucket_manifest,
        read_cdc_snapshot_bucketed,
        start_cdc_apply_bucketed,
    )

    src = tmp_path / "cdcb_src"
    src.mkdir()
    snap = str(tmp_path / "snapshot_b")
    ckpt = str(tmp_path / "cdcb_ckpt")
    N_BUCKETS = 8

    def write_batch(fname, rows):
        (src / fname).write_text(
            "\n".join(
                _json.dumps({"k": k, "v": v, "op": op, "seq": seq})
                for k, v, op, seq in rows
            )
        )

    def drain():
        ch = spark.readStream.schema("k long, v string, op string, seq long").json(
            str(src)
        )
        q = start_cdc_apply_bucketed(
            ch, snap, ckpt, keys=["k"], seq_col="seq", n_buckets=N_BUCKETS,
            available_now=True, keep_versions=2,
        )
        q.awaitTermination(120)

    def dir_bytes(d):
        total = 0
        for root, _dirs, files in os.walk(d):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    # batch 1: 2000 keys -> every bucket populated
    write_batch("c1.json", [(k, f"v{k}", "insert", 1) for k in range(2000)])
    drain()
    m1_ver = _bucket_manifest_versions(spark, snap)[-1]
    m1 = _read_bucket_manifest(spark, snap, m1_ver)
    assert len(m1["buckets"]) == N_BUCKETS
    base_bytes = dir_bytes(f"{snap}/buckets")

    # batch 2: update ONE key -> exactly one bucket rewritten
    write_batch("c2.json", [(5, "v5_new", "update", 2)])
    drain()
    m2_ver = _bucket_manifest_versions(spark, snap)[-1]
    assert m2_ver > m1_ver
    m2 = _read_bucket_manifest(spark, snap, m2_ver)
    # the epoch's data dir carries a per-attempt token: buckets/e1-<tok>
    assert m2["stream_epoch"] == 1 and m2["kind"] == "stream"
    epoch_prefix = f"buckets/e{m2['stream_epoch']}-"
    touched = [b for b, rel in m2["buckets"].items() if rel.startswith(epoch_prefix)]
    assert len(touched) == 1
    # untouched buckets carry forward BY REFERENCE to batch-1 dirs
    carried = [
        b for b, rel in m2["buckets"].items() if not rel.startswith(epoch_prefix)
    ]
    assert len(carried) == N_BUCKETS - 1
    assert all(m2["buckets"][b] == m1["buckets"][b] for b in carried)
    # measured: the epoch wrote ~|base|/N bytes, far below the base size
    epoch_dir = m2["buckets"][touched[0]].split("/")[1]
    written = dir_bytes(f"{snap}/buckets/{epoch_dir}")
    assert 0 < written < base_bytes / 2, (written, base_bytes)
    s = {r.k: r.v for r in read_cdc_snapshot_bucketed(spark, snap).collect()}
    assert len(s) == 2000 and s[5] == "v5_new" and s[6] == "v6"

    # batch 3: delete every key of bucket 0 -> bucket leaves the manifest
    from pyspark.sql import functions as F

    bucket0_keys = [
        r.k
        for r in read_cdc_snapshot_bucketed(spark, snap)
        .select("k")
        .where(F.pmod(F.xxhash64("k"), F.lit(N_BUCKETS)) == 0)
        .collect()
    ]
    assert bucket0_keys
    write_batch(
        "c3.json", [(k, None, "delete", 3) for k in bucket0_keys]
    )
    drain()
    m3_ver = _bucket_manifest_versions(spark, snap)[-1]
    m3 = _read_bucket_manifest(spark, snap, m3_ver)
    assert "0" not in m3["buckets"] and len(m3["buckets"]) == N_BUCKETS - 1
    s3 = {r.k: r.v for r in read_cdc_snapshot_bucketed(spark, snap).collect()}
    assert len(s3) == 2000 - len(bucket0_keys)
    assert all(k not in s3 for k in bucket0_keys)

    # replay: drop the newest commit record -> restart re-runs the last
    # batch; the replayed epoch rebases on the strictly-older manifest
    # and must converge to the identical snapshot
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    s3r = {r.k: r.v for r in read_cdc_snapshot_bucketed(spark, snap).collect()}
    assert s3r == s3
    # pruning keeps at most keep_versions manifests
    assert len(_bucket_manifest_versions(spark, snap)) <= 2


def test_cdc_bucketed_point_reads_rebucket_and_fsck(spark, tmp_path):
    """Key-pruned reads open only the keys' buckets; rebucketing
    rewrites the layout under the same commit discipline (readers flip
    atomically, old epochs pruned); the fsck validates placement and
    catches a hand-corrupted manifest."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        _bucket_manifest_versions,
        _read_bucket_manifest,
        _write_bucket_manifest,
        read_cdc_snapshot_bucketed,
        read_cdc_snapshot_bucketed_for_keys,
        rebucket_cdc_snapshot,
        start_cdc_apply_bucketed,
        validate_cdc_snapshot,
    )

    src = tmp_path / "cdcp_src"
    src.mkdir()
    snap = str(tmp_path / "snapshot_p")
    ckpt = str(tmp_path / "cdcp_ckpt")

    (src / "c1.json").write_text(
        "\n".join(
            _json.dumps({"k": k, "v": f"v{k}", "op": "insert", "seq": 1})
            for k in range(500)
        )
    )
    ch = spark.readStream.schema("k long, v string, op string, seq long").json(
        str(src)
    )
    q = start_cdc_apply_bucketed(
        ch, snap, ckpt, keys=["k"], seq_col="seq", n_buckets=8,
        available_now=True,
    )
    q.awaitTermination(120)

    # point lookup: reads only the buckets of the requested keys
    wanted = spark.createDataFrame([(5,), (6,), (7,)], "k long")
    got = read_cdc_snapshot_bucketed_for_keys(spark, snap, ["k"], wanted)
    assert {r.k: r.v for r in got.collect()} == {5: "v5", 6: "v6", 7: "v7"}
    n_opened = (
        got.select(F.input_file_name().alias("f")).distinct().count()
    )
    m = _read_bucket_manifest(spark, snap, _bucket_manifest_versions(spark, snap)[-1])
    # 3 keys -> at most 3 of 8 buckets opened, never all
    assert n_opened < len(m["buckets"])

    # fsck: clean snapshot validates
    rep = validate_cdc_snapshot(spark, snap)
    assert rep["ok"] and rep["misplaced_rows"] == 0 and rep["n_buckets"] == 8

    # rebucket 8 -> 3: identical rows, new layout, fsck still clean
    rebucket_cdc_snapshot(spark, snap, new_n_buckets=3, keep_versions=2)
    s = {r.k: r.v for r in read_cdc_snapshot_bucketed(spark, snap).collect()}
    assert len(s) == 500 and s[123] == "v123"
    rep2 = validate_cdc_snapshot(spark, snap)
    assert rep2["ok"] and rep2["n_buckets"] == 3 and rep2["n_live_buckets"] == 3
    # point reads work against the evolved layout
    got2 = read_cdc_snapshot_bucketed_for_keys(spark, snap, ["k"], wanted)
    assert {r.k for r in got2.collect()} == {5, 6, 7}
    # a key-order mismatch against the layout fails loudly, never a
    # silent empty point read (xxhash64 is order-sensitive)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket\\s+layout"):
        read_cdc_snapshot_bucketed_for_keys(spark, snap, ["k", "v"], wanted)

    # the SAME checkpoint keeps streaming after the rebucket: the next
    # batch must rebase on the maintenance commit (new layout), not on
    # the pre-rebucket manifest — the r9 review's clobber scenario
    (src / "c2.json").write_text(
        _json.dumps({"k": 123, "v": "v123_new", "op": "update", "seq": 2})
    )
    ch2 = spark.readStream.schema("k long, v string, op string, seq long").json(
        str(src)
    )
    q2 = start_cdc_apply_bucketed(
        ch2, snap, ckpt, keys=["k"], seq_col="seq", n_buckets=3,
        available_now=True,
    )
    q2.awaitTermination(120)
    s2 = {r.k: r.v for r in read_cdc_snapshot_bucketed(spark, snap).collect()}
    assert len(s2) == 500 and s2[123] == "v123_new" and s2[7] == "v7"
    rep2b = validate_cdc_snapshot(spark, snap)
    assert rep2b["ok"] and rep2b["n_buckets"] == 3

    # time travel: the kept pre-update version still reads the old
    # value; a pruned version fails loudly
    kept = _bucket_manifest_versions(spark, snap)
    old = {
        r.k: r.v
        for r in read_cdc_snapshot_bucketed(spark, snap, version=kept[-2]).collect()
    }
    assert old[123] == "v123" and len(old) == 500
    with _pytest.raises(ValueError, match="pruned|not found"):
        read_cdc_snapshot_bucketed(spark, snap, version=kept[0] - 1)

    # corruption: claim n_buckets=5 without moving rows -> placement fails
    vlast = _bucket_manifest_versions(spark, snap)[-1]
    bad = dict(_read_bucket_manifest(spark, snap, vlast))
    bad["n_buckets"] = 5
    _write_bucket_manifest(spark, snap, vlast + 1, bad)
    rep3 = validate_cdc_snapshot(spark, snap)
    assert not rep3["ok"] and rep3["misplaced_rows"] > 0

    # lineage corruption: a commit whose stream_epoch goes BACKWARD
    # (two interleaved writers) is flagged by the chain check
    worse = dict(bad)
    worse["n_buckets"] = _read_bucket_manifest(spark, snap, vlast)["n_buckets"]
    worse["stream_epoch"] = -5
    _write_bucket_manifest(spark, snap, vlast + 2, worse)
    rep4 = validate_cdc_snapshot(spark, snap)
    assert any(str(p).startswith("lineage:") for p in rep4["missing_paths"]), rep4


def test_cdc_bucketed_foreign_checkpoint_fails_loudly(spark, tmp_path):
    """A FRESH checkpoint pointed at an existing table must raise, not
    silently rebase epoch 0 on an empty base and fork the lineage (r9
    review finding); explicit adoption via rebucket_cdc_snapshot(...,
    reset_epochs=True) then accepts the new checkpoint."""
    import json as _json

    import pytest

    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        read_cdc_snapshot_bucketed,
        rebucket_cdc_snapshot,
        start_cdc_apply_bucketed,
    )

    src = tmp_path / "cdcf_src"
    src.mkdir()
    snap = str(tmp_path / "snapshot_f")

    def drain(ckpt_name):
        ch = spark.readStream.schema("k long, v string, op string, seq long").json(
            str(src)
        )
        q = start_cdc_apply_bucketed(
            ch, snap, str(tmp_path / ckpt_name), keys=["k"], seq_col="seq",
            n_buckets=4, available_now=True,
        )
        q.awaitTermination(120)

    (src / "c1.json").write_text(
        "\n".join(
            _json.dumps({"k": k, "v": f"v{k}", "op": "insert", "seq": 1})
            for k in range(50)
        )
    )
    drain("ckpt_a")
    assert read_cdc_snapshot_bucketed(spark, snap).count() == 50

    # same table, same n_buckets, DIFFERENT checkpoint: epoch 0 again
    (src / "c2.json").write_text(
        _json.dumps({"k": 1, "v": "clobber", "op": "update", "seq": 2})
    )
    with pytest.raises(Exception, match="checkpoint"):
        drain("ckpt_b")
    # table unharmed
    s = {r.k: r.v for r in read_cdc_snapshot_bucketed(spark, snap).collect()}
    assert len(s) == 50 and s[1] == "v1"

    # explicit adoption: reseal the lineage, then the fresh checkpoint
    # applies cleanly on top of the existing 50 rows
    rebucket_cdc_snapshot(spark, snap, new_n_buckets=4, reset_epochs=True)
    drain("ckpt_c")
    s2 = {r.k: r.v for r in read_cdc_snapshot_bucketed(spark, snap).collect()}
    assert len(s2) == 50 and s2[1] == "clobber" and s2[2] == "v2"


def test_cdc_bucketed_equals_full_rewrite_differential(spark, tmp_path):
    """The bucketed maintainer must be observably IDENTICAL to the
    full-rewrite one: the same randomized multi-batch change stream
    (inserts, update-over-update, deletes, tombstone ties) folded by
    both paths converges to the same snapshot."""
    import json as _json
    import random

    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        read_cdc_snapshot,
        read_cdc_snapshot_bucketed,
        start_cdc_apply,
        start_cdc_apply_bucketed,
    )

    rng = random.Random(93)
    batches = []
    seq = 0
    for _b in range(3):
        rows = []
        for _ in range(200):
            k = rng.randrange(60)
            op = rng.choice(["insert", "update", "update", "delete"])
            seq += 1
            rows.append(
                (k, None if op == "delete" else f"v{seq}", op, seq)
            )
        # a tombstone tie: delete at the same seq as an update
        k = rng.randrange(60)
        rows.append((k, f"tie{seq}", "update", seq))
        rows.append((k, None, "delete", seq))
        batches.append(rows)

    def run(variant_dir, starter, **kw):
        src = tmp_path / f"{variant_dir}_src"
        src.mkdir()
        snap = str(tmp_path / f"{variant_dir}_snap")
        ckpt = str(tmp_path / f"{variant_dir}_ckpt")
        for i, rows in enumerate(batches):
            (src / f"c{i}.json").write_text(
                "\n".join(
                    _json.dumps({"k": k, "v": v, "op": op, "seq": s})
                    for k, v, op, s in rows
                )
            )
            ch = spark.readStream.schema(
                "k long, v string, op string, seq long"
            ).json(str(src))
            q = starter(
                ch, snap, ckpt, keys=["k"], seq_col="seq",
                available_now=True, **kw,
            )
            q.awaitTermination(120)
        return snap

    full = run("cdc_full", start_cdc_apply)
    buck = run("cdc_buck", start_cdc_apply_bucketed, n_buckets=7)
    a = {r.k: r.v for r in read_cdc_snapshot(spark, full).collect()}
    b = {r.k: r.v for r in read_cdc_snapshot_bucketed(spark, buck).collect()}
    assert a == b and len(a) > 0


def test_cdc_bucketed_rejects_layout_mismatch_on_restart(spark, tmp_path):
    """n_buckets is the physical key layout, fixed at creation: a
    restart with a different count must fail loudly (silently mixing
    layouts would corrupt key pruning), pointing at rebucket_cdc_snapshot."""
    import json as _json

    import pytest

    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        start_cdc_apply_bucketed,
    )

    src = tmp_path / "cdml_src"
    src.mkdir()
    snap = str(tmp_path / "cdml_snap")

    (src / "c1.json").write_text(
        _json.dumps({"k": 1, "v": "a", "op": "insert", "seq": 1})
    )

    def drain(ckpt, n_buckets):
        ch = spark.readStream.schema(
            "k long, v string, op string, seq long"
        ).json(str(src))
        q = start_cdc_apply_bucketed(
            ch, snap, str(tmp_path / ckpt), keys=["k"], seq_col="seq",
            n_buckets=n_buckets, available_now=True,
        )
        q.awaitTermination(120)

    drain("ck1", 8)
    (src / "c2.json").write_text(
        _json.dumps({"k": 2, "v": "b", "op": "insert", "seq": 2})
    )
    with pytest.raises(Exception, match="n_buckets"):
        drain("ck2", 16)  # fresh checkpoint, same snapshot dir, new layout


def test_cdc_point_read_large_probe_falls_back_to_shuffle(spark, tmp_path):
    """VERDICT r9 minor 1: a probe relation above max_broadcast_keys
    must NOT broadcast (driver/executor OOM at scale) — the read falls
    back to a shuffle semi-join over the same bucket-pruned scan and
    returns identical rows."""
    import json as _json

    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        read_cdc_snapshot_bucketed_for_keys,
        start_cdc_apply_bucketed,
    )

    src = tmp_path / "cdcg_src"
    src.mkdir()
    snap = str(tmp_path / "snapshot_g")
    ckpt = str(tmp_path / "cdcg_ckpt")
    (src / "c1.json").write_text(
        "\n".join(
            _json.dumps({"k": k, "v": f"v{k}", "op": "insert", "seq": 1})
            for k in range(300)
        )
    )
    ch = spark.readStream.schema("k long, v string, op string, seq long").json(
        str(src)
    )
    q = start_cdc_apply_bucketed(
        ch, snap, ckpt, keys=["k"], seq_col="seq", n_buckets=8,
        available_now=True,
    )
    q.awaitTermination(120)

    wanted = spark.createDataFrame([(k,) for k in (5, 6, 7, 250)], "k long")
    small = read_cdc_snapshot_bucketed_for_keys(spark, snap, ["k"], wanted)
    big = read_cdc_snapshot_bucketed_for_keys(
        spark, snap, ["k"], wanted, max_broadcast_keys=2
    )
    expect = {5: "v5", 6: "v6", 7: "v7", 250: "v250"}
    assert {r.k: r.v for r in small.collect()} == expect
    assert {r.k: r.v for r in big.collect()} == expect  # identical rows
    # plan pins: the guarded path has no broadcast; the default path
    # (probe under the threshold) still broadcasts
    big_plan = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in big_plan
    assert "ShuffledHashJoin" in big_plan
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in small_plan
    # both stay bucket-pruned: at most 4 of 8 bucket dirs opened
    n_opened = big.select(F.input_file_name().alias("f")).distinct().count()
    assert n_opened <= 4


def test_cdc_fsck_lineage_after_reset_adoption(spark, tmp_path):
    """ADVICE r9 item 4: a reset_epochs commit (stream_epoch = -1) lets
    exactly ONE subsequent commit restart the numbering; the chain
    check must flag a regression AFTER that adoption point instead of
    treating -1 as the new comparison floor."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        _write_bucket_manifest,
        validate_cdc_snapshot,
    )

    snap = str(tmp_path / "snapshot_l")
    schema_json = spark.range(1).select(F.col("id").alias("k")).schema.json()
    base = {"schema": schema_json, "n_buckets": 4, "buckets": {}, "keys": []}

    # chain 7, -1, 3: a legitimate adoption — the 3 is the adopted
    # checkpoint's own numbering, not a regression
    for v, se in enumerate([7, -1, 3], start=1):
        _write_bucket_manifest(spark, snap, v, {**base, "stream_epoch": se})
    rep = validate_cdc_snapshot(spark, snap)
    assert not any(str(p).startswith("lineage:") for p in rep["missing_paths"]), rep

    # chain 7, -1, 3, 2: the 3 consumed the adoption, the 2 is a
    # genuine regression (interleaved stale writer) — must be flagged
    _write_bucket_manifest(spark, snap, 4, {**base, "stream_epoch": 2})
    rep2 = validate_cdc_snapshot(spark, snap)
    assert any(str(p).startswith("lineage:") for p in rep2["missing_paths"]), rep2


def test_streaming_drift_monitor(spark, tmp_path):
    """start_drift_monitor scores every micro-batch against the
    persisted reference: a same-distribution batch scores ~0, a shifted
    batch scores high PSI and fires the alert callback exactly once —
    cross-restart safe via the checkpoint (a re-run scores no batch
    twice)."""
    import json as _json

    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.operators.drift import (
        build_drift_reference,
    )
    from iot_sensor_data_pipeline_spark.streaming.jobs import start_drift_monitor

    ref = spark.range(2000).select(
        ((F.col("id") * 7) % 100).cast("double").alias("x")
    )
    ref_dir = str(tmp_path / "ref")
    build_drift_reference(ref, ["x"], ref_dir, n_bins=16)

    src = tmp_path / "drift_src"
    src.mkdir()
    scores = str(tmp_path / "scores")
    ckpt = str(tmp_path / "drift_ckpt")
    alerts: list[tuple[int, list]] = []

    def run():
        stream = spark.readStream.schema("x double").json(str(src))
        q = start_drift_monitor(
            stream, ref_dir, scores, ckpt,
            psi_threshold=0.2, on_drift=lambda e, rows: alerts.append((e, rows)),
            available_now=True,
        )
        q.awaitTermination(120)

    # batch 0: same distribution -> low PSI, no alert
    (src / "b0.json").write_text(
        "\n".join(_json.dumps({"x": float((i * 7) % 100)}) for i in range(1000))
    )
    run()
    # batch 1: shifted +60 -> high PSI + range escape, alert fires
    (src / "b1.json").write_text(
        "\n".join(_json.dumps({"x": float((i * 7) % 100 + 60)}) for i in range(1000))
    )
    run()

    got = {r.epoch: r for r in spark.read.parquet(scores).collect()}
    assert set(got) == {0, 1}
    assert got[0].psi < 0.05 and got[0].escaped_share == 0.0
    assert got[1].psi > 0.2 and got[1].escaped_share > 0.0
    assert len(alerts) == 1 and alerts[0][0] == 1
    assert alerts[0][1][0].col == "x"

    # restart with no new data: checkpoint replays nothing, no new rows
    run()
    assert spark.read.parquet(scores).count() == 2

    # the scores table rides the epoch-idempotent sink: a replayed
    # epoch (foreachBatch is at-least-once) converges to ONE copy of
    # its report rows instead of appending duplicates forever
    from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink

    replay_sink = parquet_batch_sink(scores, checkpoint=ckpt)
    epoch1_rows = spark.read.parquet(scores).where(F.col("epoch") == 1)
    replay_sink(epoch1_rows.coalesce(1), 1)
    assert spark.read.parquet(scores).count() == 2


def test_streaming_constraint_monitor(spark, tmp_path):
    """start_constraint_monitor (r11): each micro-batch is scored
    against a declarative check suite — per-check epoch-stamped report
    rows, violating rows diverted to a quarantine table tagged with the
    failed check names, alert fired exactly once per failing batch,
    and a restart replays nothing."""
    import json as _json

    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.operators.constraints import (
        in_range,
        not_null,
        unique,
    )
    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        start_constraint_monitor,
    )

    src = tmp_path / "cm_src"
    src.mkdir()
    reports = str(tmp_path / "cm_reports")
    quarantine = str(tmp_path / "cm_quar")
    ckpt = str(tmp_path / "cm_ckpt")
    alerts: list[tuple[int, list]] = []
    checks = [
        not_null("sensor_id"),
        in_range("temperature", -40, 85),
        unique("reading_id"),
    ]

    def run():
        stream = spark.readStream.schema(
            "reading_id long, sensor_id string, temperature double"
        ).json(str(src))
        q = start_constraint_monitor(
            stream, checks, reports, ckpt, quarantine_dir=quarantine,
            on_violation=lambda e, rows: alerts.append((e, rows)),
            available_now=True,
        )
        q.awaitTermination(120)

    # batch 0: clean
    (src / "b0.json").write_text("\n".join(
        _json.dumps({"reading_id": i, "sensor_id": f"s{i % 4}",
                     "temperature": 20.0 + i % 10})
        for i in range(100)
    ))
    run()
    rep0 = spark.read.parquet(reports).where(F.col("epoch") == 0)
    assert rep0.count() == 3
    assert rep0.where(~F.col("passed")).count() == 0
    assert not alerts
    import os as _os
    assert not _os.path.exists(quarantine)  # clean batches write nothing

    # batch 1: one NULL sensor, one out-of-range temp (same row ids
    # kept unique so exactly two rows quarantine), plus a dup key
    rows = [
        {"reading_id": 200, "sensor_id": None, "temperature": 21.0},
        {"reading_id": 201, "sensor_id": "s1", "temperature": 900.0},
        {"reading_id": 202, "sensor_id": "s2", "temperature": 22.0},
        {"reading_id": 202, "sensor_id": "s3", "temperature": 23.0},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    run()
    rep1 = {r.check: r for r in
            spark.read.parquet(reports).where(F.col("epoch") == 1).collect()}
    assert rep1["not_null(sensor_id)"].n_violations == 1
    assert rep1["in_range(temperature)"].n_violations == 1
    assert rep1["unique(reading_id)"].n_violations == 2  # both dup rows
    quar = spark.read.parquet(quarantine).collect()
    assert {(r.reading_id, r["__violated"]) for r in quar} == {
        (200, "not_null(sensor_id)"), (201, "in_range(temperature)"),
    }
    assert len(alerts) == 1 and alerts[0][0] == 1
    assert {r.check for r in alerts[0][1]} == {
        "not_null(sensor_id)", "in_range(temperature)", "unique(reading_id)",
    }

    # restart with no new data: nothing replays
    run()
    assert spark.read.parquet(reports).count() == 6
    assert len(alerts) == 1

    # replayed epoch converges (epoch-idempotent sinks on both tables)
    from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink
    replay = parquet_batch_sink(reports, checkpoint=ckpt)
    replay(spark.read.parquet(reports).where(F.col("epoch") == 1).coalesce(1), 1)
    assert spark.read.parquet(reports).count() == 6


def test_constraint_monitor_evaluates_each_row_once_per_batch(spark, stream_dirs):
    """The constraint monitor persists the batch before its emptiness
    probe: every input row runs through the batch's lineage exactly
    once per micro-batch while the batch feeds the report, the
    quarantine probe and the quarantine sink. Counted as in
    :func:`test_fanout_evaluates_each_row_once_per_batch`; each run
    drains its new file with ``available_now``."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.operators.constraints import not_null
    from iot_sensor_data_pipeline_spark.streaming.jobs import (
        start_constraint_monitor,
    )

    src, chk, tmp = stream_dirs
    reports = str(tmp / "reports")
    quarantine = str(tmp / "quarantine")
    evals = tmp / "evals"
    evals.write_text("")
    evals_path = str(evals)

    @F.udf("long")
    def counted(v):
        with open(evals_path, "a") as fh:
            fh.write("x")
        return len(v)

    for i in range(2):
        write_batch(src, f"b{i}.txt", [f"row-{i}-{j}" for j in range(20)])
        stream = spark.readStream.text(str(src)).where(counted("value") > 0)
        q = start_constraint_monitor(
            stream, [not_null("value")], reports, chk,
            quarantine_dir=quarantine, available_now=True,
        )
        q.awaitTermination(120)
        assert spark.read.parquet(reports).count() == i + 1
        assert len(evals.read_text()) == 20 * (i + 1)
