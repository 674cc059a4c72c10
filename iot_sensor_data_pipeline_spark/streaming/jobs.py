"""Streaming job wiring — the reference's three jobs re-expressed with
its anti-patterns fixed (SURVEY.md §4 table, last row):

reference                               | this engine
----------------------------------------|------------------------------
persistence + alerts: two subscriptions | ONE query -> foreachBatch ->
parsing the same JSON twice; a second   | persist -> readings sinks,
Kafka read (alert_detector.py:246-262)  | then detect_alerts -> alerts sinks
no checkpoint on 3 of 4 queries         | checkpoint REQUIRED (ctor arg)
batch_df.count() twice per batch        | persist, then isEmpty() once
startingOffsets=latest + no checkpoint  | checkpointed offsets, earliest
  -> data loss on restart               |   on first run
no maxOffsetsPerTrigger -> unbounded    | rate limit parameter
  first batch                           |

Each job takes a source DataFrame (kafka/file/rate/memory — anything
``readStream`` produces) so the logic is testable without Kafka, and
lists of batch sinks (callables DataFrame -> None) fanned out from one
``foreachBatch`` over one persisted micro-batch. Every job starts its
writer through ``_start``; the fan-out and the two monitors persist
each batch before probing it, so its lineage runs once.

The jobs:

- ``start_ingest`` — the reference's persistence and alert jobs as one
  query: one parse per micro-batch feeds the readings sinks, then the
  stateless rule engine's alerts feed the alerts sinks, under one
  epoch;
- ``start_aggregator`` — the reference's windowed aggregation, its own
  query because its window state lives in the streaming plan
  (``Pipeline.start_standard_jobs`` wires both);
- ``start_cdc_apply_bucketed`` — a change stream maintained into a
  bucketed snapshot, with its readers, ``validate_cdc_snapshot`` and
  ``rebucket_cdc_snapshot``; ``start_cdc_apply`` is its unbucketed
  reference;
- ``start_drift_monitor`` and ``start_constraint_monitor`` — per-batch
  distribution-drift scores and data-quality checks.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from iot_sensor_data_pipeline_spark.functions.rules import SENSOR_RULES, detect_alerts
from iot_sensor_data_pipeline_spark.operators.window_agg import windowed_agg
from iot_sensor_data_pipeline_spark.schema import SENSOR_READING_SCHEMA
from iot_sensor_data_pipeline_spark.sources.json_ingest import (
    CORRUPT_COL,
    ingest_readings,
    parse_json_column,
    split_quarantine,
)
from iot_sensor_data_pipeline_spark.sources.manifest import _versions_in

#: a sink takes the batch DataFrame, optionally also the epoch id —
#: epoch-aware sinks (sources.jdbc idempotent append) need it for
#: replay deduplication
BatchSink = Callable[[DataFrame], None] | Callable[[DataFrame, int], None]


def _wants_epoch(sink: BatchSink) -> bool:
    try:
        params = inspect.signature(sink).parameters.values()
        positional = [
            p
            for p in params
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        return len(positional) >= 2 or any(
            p.kind == p.VAR_POSITIONAL for p in params
        )
    except (TypeError, ValueError):
        return False


def _call(sink: BatchSink, wants_epoch: bool, df: DataFrame, epoch_id: int) -> None:
    if wants_epoch:
        sink(df, epoch_id)
    else:
        sink(df)


#: one output of a fan-out: a per-batch derivation of the batch's
#: readings (None: the readings themselves) and the sinks it feeds
Route = tuple[Callable[[DataFrame], DataFrame] | None, Sequence[BatchSink]]


def _fanout(
    routes: Sequence[Route],
    auditor=None,
    dead_letter: BatchSink | None = None,
) -> Callable[[DataFrame, int], None]:
    """One foreachBatch callback feeding every sink from ONE computed
    batch. The batch is persisted first, so neither the emptiness
    probes nor the N sinks recompute the lineage (the reference
    recomputed per count() call, reference data_persistance.py:41,55),
    and a stateful job's state stage runs and commits once.

    ``routes`` are (derive, sinks) pairs fed in order with the same
    epoch id: ``derive`` (stateless, run on the persisted batch) maps
    the batch's readings to what its sinks store — ``None`` passes them
    through. A derived output that comes out empty skips its sinks.
    Sinks declaring a second parameter receive the epoch id
    (replay-dedup key).

    ``dead_letter`` expects a corrupt-capturing parse
    (``parse_json_column(..., corrupt_col=CORRUPT_COL)``): the persisted
    batch splits into clean readings, which feed the routes, and
    quarantined raw rows, which go to ``dead_letter`` once per batch.
    Clean rows are never blocked or dropped by bad wire data — the
    capture semantics the reference lacks (it silently nulls,
    data_persistance.py:76).

    ``auditor`` (a ``plans.audit.StreamAuditor``) gates each route's
    plan — post-derivation, the plan its sinks actually consume —
    against the scale-killer rules, warn-once per rule."""
    routes = [
        (derive, [(sink, _wants_epoch(sink)) for sink in sinks])
        for derive, sinks in routes
        if sinks
    ]
    dl_wants_epoch = dead_letter is not None and _wants_epoch(dead_letter)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            readings = batch_df
            if dead_letter is not None:
                readings, dead = split_quarantine(batch_df)
                if not dead.isEmpty():
                    _call(dead_letter, dl_wants_epoch, dead, epoch_id)
            for derive, sinks in routes:
                out = readings if derive is None else derive(readings)
                if auditor is not None:
                    auditor.check(out)
                if out is not batch_df and out.isEmpty():
                    continue
                for sink, wants_epoch in sinks:
                    _call(sink, wants_epoch, out, epoch_id)
        finally:
            batch_df.unpersist()

    return write


def _start(
    df: DataFrame,
    sinks: Sequence[BatchSink],
    checkpoint: str,
    output_mode: str = "append",
    trigger: str | None = None,
    query_name: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    auditor=None,
    available_now: bool = False,
) -> StreamingQuery:
    """The one streaming-writer builder: ``foreach_batch`` (default: a
    :func:`_fanout` of ``sinks``) under ``checkpoint``. ``available_now``
    drains what is available, then stops; it wins over ``trigger``."""
    writer = (
        df.writeStream.foreachBatch(
            foreach_batch or _fanout([(None, sinks)], auditor=auditor)
        )
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()


def start_ingest(
    raw: DataFrame,
    readings_sinks: Sequence[BatchSink],
    alerts_sinks: Sequence[BatchSink],
    checkpoint: str,
    rules=SENSOR_RULES,
    dead_letter: BatchSink | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    auditor=None,
    **kw,
) -> StreamingQuery:
    """Jobs 1 and 2 (reference data_persistance.py, alert_detector.py)
    as ONE query: raw JSON -> flat readings, parsed once per
    micro-batch, persisted, and fed to ``readings_sinks``; then the
    rule engine's ``detect_alerts(readings, rules)`` over the same
    persisted batch feeds ``alerts_sinks`` (JDBC + Kafka + SMTP in
    production) with the same epoch id. The reference subscribes to
    the topic twice and parses every record twice (SURVEY.md §3.3);
    the rule engine is stateless, so its detection runs inside the
    fan-out. One offset log covers both sink sets: a batch that fails
    between them replays whole, and the epoch-aware sinks
    (``parquet_batch_sink(checkpoint=...)``, the idempotent JDBC
    append) converge to exactly one copy of each reading and alert.

    With ``dead_letter`` set, malformed wire records are captured and
    routed there once per batch (raw text + quarantine timestamp)
    instead of flowing through as all-null readings — see
    sources.json_ingest.

    ``transform`` is the pre-storage scrub hook for the READINGS sinks
    only (e.g. ``operators.curation.pii_redact`` over free-text
    columns, unit conversions, column pruning); alerts are detected on
    the parsed readings before it. Stateless transforms only: it runs
    inside foreachBatch, so streaming state would not carry across
    batches.

    The aggregator stays its own query (:func:`start_aggregator`): its
    windowed aggregation is a CONTINUOUS stateful operator that must
    live in the streaming plan.
    """
    if dead_letter is None:
        parsed = ingest_readings(raw)
    else:
        parsed = parse_json_column(
            raw, "value", SENSOR_READING_SCHEMA, corrupt_col=CORRUPT_COL
        )
    return _start(
        parsed,
        (),
        checkpoint,
        foreach_batch=_fanout(
            [(transform, readings_sinks),
             (lambda df: detect_alerts(df, rules), alerts_sinks)],
            auditor=auditor,
            dead_letter=dead_letter,
        ),
        **kw,
    )


def start_aggregator(
    raw: DataFrame,
    sinks: Sequence[BatchSink],
    checkpoint: str,
    window_duration: str = "4 minutes",
    watermark: str = "1 minute",
    **kw,
) -> StreamingQuery:
    """Job 3 (reference data_agregator.py:74-95): watermarked tumbling
    window avg/min/max/count per (sensor_id, sensor_type), append mode
    (emit-once after the watermark passes window end)."""
    agg = windowed_agg(
        ingest_readings(raw),
        ts_col="timestamp",
        keys=["sensor_id", "sensor_type"],
        value_col="value",
        window_duration=window_duration,
        watermark=watermark,
    )
    return _start(agg, sinks, checkpoint, **kw)


def read_cdc_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """Latest CDC-maintained snapshot (highest ``v<epoch>`` version)."""
    versions = _versions_in(spark, snapshot_dir)
    if not versions:
        raise ValueError(f"no snapshot versions under {snapshot_dir}")
    return spark.read.parquet(f"{snapshot_dir}/v{versions[-1]}")


def start_cdc_apply(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint: str,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    upsert_ops: Sequence[str] = ("insert", "update"),
    delete_ops: Sequence[str] = ("delete",),
    keep_versions: int = 3,
    trigger: str | None = None,
    available_now: bool = False,
    query_name: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    auditor=None,
) -> StreamingQuery:
    """Continuously fold a CDC change stream into a queryable snapshot
    (Delta's ``APPLY CHANGES INTO`` as a job): each micro-batch runs
    ``operators.merge.apply_cdc`` against the current snapshot and
    writes the result as a NEW epoch-stamped version directory —
    readers (:func:`read_cdc_snapshot`) always see a complete version,
    never a half-rewritten table.

    Replay safety by construction, no transactional sink needed: a
    batch's base is always the newest version STRICTLY OLDER than its
    epoch id, so a replayed epoch (foreachBatch is at-least-once)
    rebases on the same input it used the first time and overwrites
    its own version dir with identical bytes — and a batch never reads
    the directory it writes. ``keep_versions`` (>= 2, enforced — the
    replayed epoch needs its predecessor alive) bounds storage; older
    versions are pruned after each commit.

    Full-rewrite physical cost per batch — appropriate ONLY for small
    snapshots (dimension tables, control state). For a large base
    table use :func:`start_cdc_apply_bucketed`, which rewrites only
    the key buckets each batch touches (O(|base|/n_buckets) I/O per
    touched bucket) with the same replay discipline; with a
    transactional format both map onto a real MERGE.
    """
    if keep_versions < 2:
        raise ValueError(
            f"start_cdc_apply: keep_versions must be >= 2 (a replayed "
            f"epoch rebases on its predecessor), got {keep_versions}"
        )
    from iot_sensor_data_pipeline_spark.operators.merge import apply_cdc

    keys = list(keys)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if transform is not None:
            batch_df = transform(batch_df)
            if batch_df.isEmpty():
                return
        if auditor is not None:
            auditor.check(batch_df)
        spark = batch_df.sparkSession
        base_cols = [c for c in batch_df.columns if c not in (op_col, seq_col)]
        older = [v for v in _versions_in(spark, snapshot_dir) if v < epoch_id]
        if older:
            current = spark.read.parquet(f"{snapshot_dir}/v{older[-1]}")
        else:  # legitimate first batch: no snapshot yet
            current = batch_df.select(*base_cols).limit(0)
        new = apply_cdc(
            current, batch_df, keys, seq_col, op_col, upsert_ops, delete_ops
        )
        new.write.mode("overwrite").parquet(f"{snapshot_dir}/v{epoch_id}")
        # prune: keep the newest keep_versions (the write above included)
        versions = _versions_in(spark, snapshot_dir)
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(snapshot_dir).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        for v in versions[:-keep_versions]:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/v{v}"), True)

    return _start(
        changes, (), checkpoint, trigger=trigger, query_name=query_name,
        foreach_batch=write, available_now=available_now,
    )


# ---------------------------------------------------------------------------
# bucket-pruned CDC snapshot maintenance: per-batch cost O(touched buckets)
# ---------------------------------------------------------------------------

#: key-hash bucket column used by the bucketed CDC layout (never
#: visible to readers — it becomes a partition directory)
CDC_BUCKET_COL = "__cdc_bucket"


def _cdc_bucket_expr(keys: Sequence[str], n_buckets: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
        "int"
    )


def _bucket_manifest_versions(spark, snapshot_dir: str) -> list[int]:
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/manifests")
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isFile() and name.startswith("v") and name.endswith(".json"):
            body = name[1:-len(".json")]
            if body.isdigit():
                out.append(int(body))
    return sorted(out)


def _read_bucket_manifest(spark, snapshot_dir: str, version: int) -> dict:
    from iot_sensor_data_pipeline_spark.sources.manifest import _read_json_file

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/manifests/v{version}.json")
    return _read_json_file(p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm, p)


def _write_bucket_manifest(spark, snapshot_dir: str, version: int, payload: dict):
    """Write-then-swap so a crash mid-write never leaves a PARTIAL
    newest manifest: the momentary no-v{N} window makes readers resolve
    v{N-1} (complete, consistent); a torn in-place write would make
    them parse garbage. The .tmp suffix keeps the listing blind to the
    staging file (_bucket_manifest_versions requires the .json suffix).
    A replayed epoch swaps over its own version."""
    from iot_sensor_data_pipeline_spark.sources.manifest import _commit_json_file

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/manifests/v{version}.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    _commit_json_file(fs, jvm, p, payload, "bucket manifest swap")


def read_cdc_snapshot_bucketed(
    spark, snapshot_dir: str, version: int | None = None
) -> DataFrame:
    """Bucketed CDC snapshot read: union-read every bucket directory
    the manifest references. An empty snapshot (every key deleted)
    still reads correctly — the manifest carries the schema.

    ``version`` time-travels to an older manifest (kept versions only
    — ``keep_versions`` bounds the history; a pruned version raises).
    The kept-manifest invariant guarantees every referenced bucket dir
    survives pruning, so any kept version reads consistently —
    EXCEPT across a ``reset_epochs`` adoption, where the new lineage's
    epoch dirs may reuse old names (documented in
    :func:`rebucket_cdc_snapshot`)."""
    import json

    from pyspark.sql.types import StructType

    versions = _bucket_manifest_versions(spark, snapshot_dir)
    if not versions:
        raise ValueError(f"no snapshot manifests under {snapshot_dir}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise ValueError(
            f"manifest v{version} not found under {snapshot_dir} "
            f"(kept versions: {versions}) — older versions are pruned "
            "by keep_versions"
        )
    m = _read_bucket_manifest(spark, snapshot_dir, version)
    schema = StructType.fromJson(json.loads(m["schema"]))
    paths = [f"{snapshot_dir}/{rel}" for rel in m["buckets"].values()]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def start_cdc_apply_bucketed(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint: str,
    keys: Sequence[str],
    seq_col: str,
    n_buckets: int,
    op_col: str = "op",
    upsert_ops: Sequence[str] = ("insert", "update"),
    delete_ops: Sequence[str] = ("delete",),
    keep_versions: int = 3,
    trigger: str | None = None,
    available_now: bool = False,
    query_name: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    auditor=None,
) -> StreamingQuery:
    """:func:`start_cdc_apply` with per-batch cost O(touched buckets),
    not O(|base|) — the 100 TB form of streaming snapshot maintenance.

    Layout: rows hash into ``n_buckets`` key buckets
    (``pmod(xxhash64(keys), n)`` — deterministic, layout-independent);
    each epoch ATTEMPT writes ONLY the buckets containing its batch's
    keys under a fresh ``buckets/e<epoch>-<token>/`` dir (partitioned
    by bucket; the per-attempt token means no attempt ever overwrites
    a directory a committed manifest references), then commits a tiny
    JSON manifest ``manifests/v<version>.json`` mapping every bucket to
    the attempt directory currently holding it — untouched buckets
    carry forward BY REFERENCE, zero I/O. A batch touching 1 of N
    buckets reads and rewrites ~|base|/N bytes.

    Commit discipline: manifest versions are a pure commit counter
    (``versions[-1] + 1``), DECOUPLED from stream epoch ids — each
    manifest records its lineage (``kind`` stream/maintenance, the
    ``stream_epoch`` it reflects, and the binding ``checkpoint`` path)
    and a batch routes on the NEWEST manifest's lineage:

    - ``epoch > newest.stream_epoch`` — the normal next batch (epoch
      gaps from empty batches are fine): rebase on the newest manifest
      (which may be a maintenance commit such as a rebucket), commit a
      new version.
    - ``epoch == newest.stream_epoch`` with a matching checkpoint — a
      replay (foreachBatch is at-least-once): rebase on the newest
      manifest's PREDECESSOR (``keep_versions >= 2`` guarantees it
      survives pruning), write a FRESH attempt-token bucket dir beside
      the dead attempt's (never overwrite a dir the committed manifest
      still references), swap its own manifest version, and let prune
      collect the dead attempt.
    - ``epoch < newest.stream_epoch``, a checkpoint-path mismatch on a
      stream-bound table, or a replay into a maintenance commit that
      already absorbed this epoch — FAIL LOUDLY: these are the
      foreign-checkpoint / stale-checkpoint states that would silently
      rebase on the wrong base (fresh-checkpoint adoption is explicit:
      ``rebucket_cdc_snapshot(..., reset_epochs=True)``).

    The manifest write is the commit point; readers
    (:func:`read_cdc_snapshot_bucketed`) resolve the newest manifest
    and always see a complete, consistent version.

    ``keep_versions`` (>= 2) bounds manifest history; epoch bucket
    directories no kept manifest references are deleted after each
    commit. ``n_buckets`` is fixed at table creation (it is the
    physical key layout): size it so one bucket ~ one comfortable task
    (bucket bytes ~ |base| / n_buckets).
    """
    if keep_versions < 2:
        raise ValueError(
            f"start_cdc_apply_bucketed: keep_versions must be >= 2, got {keep_versions}"
        )
    if n_buckets < 1:
        raise ValueError(
            f"start_cdc_apply_bucketed: n_buckets must be >= 1, got {n_buckets}"
        )
    from iot_sensor_data_pipeline_spark.operators.merge import apply_cdc

    keys = list(keys)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        import json

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        if batch_df.isEmpty():
            return
        if transform is not None:
            batch_df = transform(batch_df)
            if batch_df.isEmpty():
                return
        if auditor is not None:
            auditor.check(batch_df)
        if CDC_BUCKET_COL in batch_df.columns:
            raise ValueError(f"column name {CDC_BUCKET_COL!r} is reserved")
        spark = batch_df.sparkSession
        base_cols = [c for c in batch_df.columns if c not in (op_col, seq_col)]

        all_versions = _bucket_manifest_versions(spark, snapshot_dir)
        if all_versions:
            newest = _read_bucket_manifest(spark, snapshot_dir, all_versions[-1])
            if newest["n_buckets"] != n_buckets:
                raise ValueError(
                    f"n_buckets={n_buckets} does not match the table's "
                    f"layout ({newest['n_buckets']}) — the bucket count is "
                    "fixed at creation; use rebucket_cdc_snapshot to evolve it"
                )
            # lineage routing (legacy manifests predate the fields:
            # they were stream commits whose version == epoch id)
            kind = newest.get("kind", "stream")
            last_epoch = newest.get("stream_epoch", all_versions[-1])
            bound_ckpt = newest.get("checkpoint")
            foreign = bound_ckpt is not None and bound_ckpt != checkpoint
            if epoch_id < last_epoch:
                raise ValueError(
                    f"epoch {epoch_id} is older than the table's last "
                    f"applied stream epoch {last_epoch} — this checkpoint "
                    "is stale or foreign to the table; adopt the table "
                    "explicitly with rebucket_cdc_snapshot(..., "
                    "reset_epochs=True) before streaming into it"
                )
            if epoch_id == last_epoch:
                if kind != "stream":
                    raise ValueError(
                        f"epoch {epoch_id} is already absorbed by a "
                        "maintenance commit (rebucket/reseal ran on a base "
                        "that included it) — replaying it would double-"
                        "apply; restart from a checkpoint whose next epoch "
                        f"is > {last_epoch}, or re-adopt with "
                        "rebucket_cdc_snapshot(..., reset_epochs=True)"
                    )
                if foreign:
                    raise ValueError(
                        f"table is bound to checkpoint {bound_ckpt!r} but "
                        f"this query runs from {checkpoint!r} — a same-id "
                        "epoch from a different checkpoint is NOT a replay; "
                        "adopt the table explicitly with "
                        "rebucket_cdc_snapshot(..., reset_epochs=True)"
                    )
                # replay of the newest commit: rebase on its predecessor
                # (keep_versions >= 2 keeps it alive), write a fresh
                # attempt-token bucket dir, and swap the epoch's own
                # manifest version over to it
                version_to_write = all_versions[-1]
                if len(all_versions) >= 2:
                    manifest = _read_bucket_manifest(
                        spark, snapshot_dir, all_versions[-2]
                    )
                    schema = StructType.fromJson(json.loads(manifest["schema"]))
                else:  # replay of the very first batch
                    manifest = {"n_buckets": n_buckets, "buckets": {}}
                    schema = batch_df.select(*base_cols).schema
            else:
                # maintenance commits carry the binding forward, so the
                # guard applies regardless of the newest commit's kind
                if foreign:
                    raise ValueError(
                        f"table is bound to checkpoint {bound_ckpt!r} but "
                        f"this query runs from {checkpoint!r} — adopt the "
                        "table explicitly with rebucket_cdc_snapshot(..., "
                        "reset_epochs=True) before streaming into it"
                    )
                version_to_write = all_versions[-1] + 1
                manifest = newest
                schema = StructType.fromJson(json.loads(manifest["schema"]))
        else:  # first batch: empty base, schema from the batch
            version_to_write = 0
            manifest = {"n_buckets": n_buckets, "buckets": {}}
            schema = batch_df.select(*base_cols).schema

        batch_df = batch_df.withColumn(
            CDC_BUCKET_COL, _cdc_bucket_expr(keys, n_buckets)
        ).persist()
        try:
            # <= n_buckets small ints: driver-small by construction
            touched = sorted(
                r[0] for r in batch_df.select(CDC_BUCKET_COL).distinct().collect()
            )
            touched_paths = [
                f"{snapshot_dir}/{manifest['buckets'][str(b)]}"
                for b in touched
                if str(b) in manifest["buckets"]
            ]
            current = (
                spark.read.schema(schema).parquet(*touched_paths)
                if touched_paths
                else spark.createDataFrame([], schema)
            )
            new = apply_cdc(
                current,
                batch_df.drop(CDC_BUCKET_COL),
                keys,
                seq_col,
                op_col,
                upsert_ops,
                delete_ops,
            )
            # fresh attempt-token dir: a replay must NEVER overwrite a
            # directory the committed newest manifest still references
            # (crash mid-rewrite would break every reader until the
            # replay succeeds) — it writes beside it, the manifest swap
            # flips readers, and prune collects the dead attempt
            import uuid as _uuid

            epoch_rel = f"buckets/e{epoch_id}-{_uuid.uuid4().hex[:8]}"
            (
                new.withColumn(CDC_BUCKET_COL, _cdc_bucket_expr(keys, n_buckets))
                .write.partitionBy(CDC_BUCKET_COL)
                .mode("overwrite")
                .parquet(f"{snapshot_dir}/{epoch_rel}")
            )
        finally:
            batch_df.unpersist()

        # which touched buckets actually hold rows post-apply? (a bucket
        # whose every key was deleted writes no partition dir)
        jvm = spark._jvm
        epath = jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/{epoch_rel}")
        fs = epath.getFileSystem(spark._jsc.hadoopConfiguration())
        present = set()
        for st in fs.listStatus(epath):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(f"{CDC_BUCKET_COL}="):
                present.add(int(name.split("=", 1)[1]))
        buckets = dict(manifest["buckets"])
        for b in touched:
            if b in present:
                buckets[str(b)] = f"{epoch_rel}/{CDC_BUCKET_COL}={b}"
            else:
                buckets.pop(str(b), None)
        _write_bucket_manifest(
            spark,
            snapshot_dir,
            version_to_write,
            {
                "n_buckets": n_buckets,
                "keys": keys,  # the hash layout — rebucket/fsck read it
                "buckets": buckets,
                "schema": json.dumps(schema.jsonValue()),
                "kind": "stream",
                "stream_epoch": epoch_id,
                "checkpoint": checkpoint,
            },
        )

        # prune: keep the newest keep_versions manifests; delete epoch
        # bucket dirs no kept manifest references
        versions = _bucket_manifest_versions(spark, snapshot_dir)
        kept_versions = versions[-keep_versions:]
        referenced: set[str] = set()
        for v in kept_versions:
            m = _read_bucket_manifest(spark, snapshot_dir, v)
            for rel in m["buckets"].values():
                referenced.add(rel.split("/", 2)[1])  # "buckets/eN/..." -> "eN"
        for v in versions[: -keep_versions or None]:
            if v not in kept_versions:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{snapshot_dir}/manifests/v{v}.json"
                    ),
                    False,
                )
        broot = jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/buckets")
        if fs.exists(broot):
            for st in fs.listStatus(broot):
                name = st.getPath().getName()
                if st.isDirectory() and name not in referenced:
                    fs.delete(st.getPath(), True)

    return _start(
        changes, (), checkpoint, trigger=trigger, query_name=query_name,
        foreach_batch=write, available_now=available_now,
    )


def read_cdc_snapshot_bucketed_for_keys(
    spark,
    snapshot_dir: str,
    keys: Sequence[str],
    key_rows: DataFrame,
    max_broadcast_keys: int = 1_000_000,
) -> DataFrame:
    """Key-pruned snapshot read: open ONLY the bucket directories the
    requested keys hash into — the point-lookup / small-range path a
    100 TB snapshot needs (reading 3 keys must cost 3 buckets ~
    |base| * 3/n_buckets, not a full scan). ``key_rows`` carries the
    key columns; rows are filtered to exactly those keys (semi-join),
    so the result equals ``read_cdc_snapshot_bucketed(...).join(keys,
    semi)`` at a fraction of the I/O. The distinct-bucket collect is
    <= n_buckets ints by construction.

    The probe side broadcasts only while its distinct-key count (a
    by-product of the same single job that finds the touched buckets)
    stays <= ``max_broadcast_keys``; a larger probe relation falls back
    to a SHUFFLE semi-join over the still-bucket-pruned scan instead of
    OOMing the driver/executors on an unconditional broadcast (VERDICT
    r9 minor 1). The fallback keeps the I/O story — only touched
    buckets are opened — and pays one key-shuffle, which is the correct
    plan at that probe size anyway."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    versions = _bucket_manifest_versions(spark, snapshot_dir)
    if not versions:
        raise ValueError(f"no snapshot manifests under {snapshot_dir}")
    m = _read_bucket_manifest(spark, snapshot_dir, versions[-1])
    schema = StructType.fromJson(json.loads(m["schema"]))
    n_buckets = int(m["n_buckets"])
    keys = list(keys)
    layout_keys = m.get("keys")
    if layout_keys is not None and list(layout_keys) != keys:
        # xxhash64 is ORDER-sensitive: hashing ('site','device') against
        # a ('device','site') layout opens the wrong buckets and the
        # semi-join silently returns nothing — fail loudly instead
        raise ValueError(
            f"requested keys {keys} do not match the table's bucket "
            f"layout {list(layout_keys)} (order matters — the bucket "
            "hash is computed over the layout's key order)"
        )
    wanted = key_rows.select(*keys).distinct()
    # ONE job yields both the touched-bucket set (<= n_buckets rows on
    # the driver) and the distinct-key total that decides the join
    # strategy — the count is free, not a second pass over key_rows
    per_bucket = (
        wanted.groupBy(_cdc_bucket_expr(keys, n_buckets).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    touched = sorted(r["__b"] for r in per_bucket)
    n_keys = sum(r["__n"] for r in per_bucket)
    paths = [
        f"{snapshot_dir}/{m['buckets'][str(b)]}"
        for b in touched
        if str(b) in m["buckets"]
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).parquet(*paths)
    if n_keys <= max_broadcast_keys:
        return df.join(F.broadcast(wanted), keys, "left_semi")
    # large probe: shuffle semi-join (hint pins the strategy so size
    # misestimates can't re-introduce the broadcast)
    return df.join(wanted.hint("shuffle_hash"), keys, "left_semi")


def rebucket_cdc_snapshot(
    spark,
    snapshot_dir: str,
    new_n_buckets: int,
    keep_versions: int = 3,
    reset_epochs: bool = False,
) -> None:
    """Evolve the bucket layout of a bucketed CDC snapshot — the
    ``n_buckets`` chosen at creation stops fitting when the table
    grows 100x (buckets become task-breaking) or shrinks (tiny-file
    overhead). One distributed rewrite: read every live bucket, re-hash
    into ``new_n_buckets``, write under a MAINTENANCE directory
    (``buckets/m<version>`` — a namespace stream epochs can never
    collide with), and commit a new manifest version carrying
    ``kind="maintenance"`` and the base's ``stream_epoch``, so the
    restarted stream's next batch (epoch == stream_epoch + 1) rebases
    on the new layout while a replay of an already-absorbed epoch
    fails loudly instead of double-applying.

    ``reset_epochs=True`` additionally clears the lineage
    (``stream_epoch = -1``, no checkpoint binding): the explicit
    adoption step when pointing a FRESH checkpoint (epoch ids restart
    at 0) at an existing table. Without it,
    :func:`start_cdc_apply_bucketed` rejects foreign/stale
    checkpoints. Note time travel to pre-reseal manifest versions is
    not meaningful after adoption (the new stream's epoch dirs may
    reuse names the old lineage used).

    NOT safe to run concurrently with an active ``start_cdc_apply_
    bucketed`` query on the same directory (two writers, no lock —
    stop the stream, rebucket, restart); the lineage routing that
    makes stream replays safe does not extend to an out-of-band
    writer racing the stream."""
    import json

    from pyspark.sql.types import StructType

    if new_n_buckets < 1:
        raise ValueError(
            f"rebucket_cdc_snapshot: new_n_buckets must be >= 1, got {new_n_buckets}"
        )
    versions = _bucket_manifest_versions(spark, snapshot_dir)
    if not versions:
        raise ValueError(f"no snapshot manifests under {snapshot_dir}")
    m = _read_bucket_manifest(spark, snapshot_dir, versions[-1])
    schema = StructType.fromJson(json.loads(m["schema"]))
    keys = m.get("keys")
    if keys is None:
        raise ValueError(
            "rebucket_cdc_snapshot: manifest predates the 'keys' field — "
            "rewrite it with start_cdc_apply_bucketed once before rebucketing"
        )
    base_stream_epoch = m.get("stream_epoch", versions[-1])
    new_version = versions[-1] + 1
    epoch_rel = f"buckets/m{new_version}"
    paths = [f"{snapshot_dir}/{rel}" for rel in m["buckets"].values()]
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(snapshot_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    present: set[int] = set()
    if paths:
        df = spark.read.schema(schema).parquet(*paths)
        (
            df.withColumn(CDC_BUCKET_COL, _cdc_bucket_expr(keys, new_n_buckets))
            .write.partitionBy(CDC_BUCKET_COL)
            .mode("overwrite")
            .parquet(f"{snapshot_dir}/{epoch_rel}")
        )
        epath = jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/{epoch_rel}")
        for st in fs.listStatus(epath):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(f"{CDC_BUCKET_COL}="):
                present.add(int(name.split("=", 1)[1]))
    _write_bucket_manifest(
        spark,
        snapshot_dir,
        new_version,
        {
            "n_buckets": new_n_buckets,
            "keys": keys,
            "buckets": {
                str(b): f"{epoch_rel}/{CDC_BUCKET_COL}={b}" for b in sorted(present)
            },
            "schema": json.dumps(schema.jsonValue()),
            "kind": "maintenance",
            "stream_epoch": -1 if reset_epochs else base_stream_epoch,
            # carry the binding forward on a routine rebucket — dropping
            # it would disarm the foreign-checkpoint guard for the next
            # batch; reset_epochs is the explicit re-binding step
            "checkpoint": None if reset_epochs else m.get("checkpoint"),
        },
    )
    # prune exactly as the stream does
    versions = _bucket_manifest_versions(spark, snapshot_dir)
    kept_versions = versions[-keep_versions:]
    referenced: set[str] = set()
    for v in kept_versions:
        mm = _read_bucket_manifest(spark, snapshot_dir, v)
        for rel in mm["buckets"].values():
            referenced.add(rel.split("/", 2)[1])
    for v in versions:
        if v not in kept_versions:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/manifests/v{v}.json"),
                False,
            )
    broot = jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/buckets")
    if fs.exists(broot):
        for st in fs.listStatus(broot):
            name = st.getPath().getName()
            if st.isDirectory() and name not in referenced:
                fs.delete(st.getPath(), True)


def validate_cdc_snapshot(spark, snapshot_dir: str) -> dict:
    """Consistency audit (fsck) of a bucketed CDC snapshot: verifies
    the newest manifest's references all exist on disk, bucket ids are
    in range, every row in a bucket directory actually hashes to
    that bucket under the manifest's layout (a corrupted manifest or a
    hand-moved directory would otherwise serve WRONG point lookups
    silently, since key pruning trusts the hash placement), and the
    kept manifest CHAIN's lineage is sane — ``stream_epoch`` must be
    monotone non-decreasing in commit-version order (an out-of-order
    chain means two writers interleaved or a clock-free replay landed
    wrong, exactly the states the commit routing is built to prevent).
    Lineage violations are reported in ``missing_paths`` with a
    ``lineage:`` prefix. Returns ``{"ok": bool, "missing_paths":
    [...], "misplaced_rows": int, "n_buckets": int, "n_live_buckets":
    int}``. Cost: one scan of the snapshot (metadata-only checks are
    free; the placement check is a conditional count, map-side only)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    versions = _bucket_manifest_versions(spark, snapshot_dir)
    if not versions:
        raise ValueError(f"no snapshot manifests under {snapshot_dir}")
    m = _read_bucket_manifest(spark, snapshot_dir, versions[-1])
    schema = StructType.fromJson(json.loads(m["schema"]))
    n_buckets = int(m["n_buckets"])
    keys = m.get("keys") or []
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(snapshot_dir).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    missing = []
    # lineage-chain sanity over the KEPT manifests: stream_epoch must be
    # monotone non-decreasing in commit-version order (the newest is
    # already in hand — no second read). A reset_epochs commit (se=-1)
    # is an ADOPTION POINT: exactly ONE subsequent commit may restart
    # the epoch numbering (the adopted checkpoint's ids legitimately
    # begin anew); commits after that resume monotonicity against the
    # post-reset base. Crucially the -1 must NOT become the comparison
    # floor itself — that would let an interleaved STALE writer slide a
    # pre-reset-regressing epoch in behind the reset unflagged (chain
    # 7, -1, 3, 2: the 3 consumes the adoption, the 2 is flagged;
    # ADVICE r9 item 4).
    prev_epoch = None
    adoption_pending = False
    for v in versions:
        mv = m if v == versions[-1] else _read_bucket_manifest(spark, snapshot_dir, v)
        se = mv.get("stream_epoch", v)
        if se == -1:
            adoption_pending = True  # keep prev_epoch: pre-reset max
            continue
        if adoption_pending:
            adoption_pending = False  # first post-reset commit adopts
        elif prev_epoch is not None and se < prev_epoch:
            missing.append(
                f"lineage: v{v} stream_epoch {se} < predecessor's {prev_epoch}"
            )
        prev_epoch = se
    for b, rel in m["buckets"].items():
        if not (0 <= int(b) < n_buckets):
            missing.append(f"bucket id {b} out of range [0, {n_buckets})")
            continue
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/{rel}")):
            missing.append(rel)
    misplaced = 0
    live = {
        b: rel
        for b, rel in m["buckets"].items()
        if rel not in missing
        and fs.exists(jvm.org.apache.hadoop.fs.Path(f"{snapshot_dir}/{rel}"))
    }
    if keys and live:
        # ONE scan, not a per-bucket job loop: the expected bucket id is
        # parsed out of each row's file path and compared to the hash
        df = spark.read.schema(schema).parquet(
            *[f"{snapshot_dir}/{rel}" for rel in live.values()]
        )
        expected = F.regexp_extract(
            F.input_file_name(), f"{CDC_BUCKET_COL}=(\\d+)", 1
        ).cast("int")
        misplaced = df.where(
            _cdc_bucket_expr(keys, n_buckets) != expected
        ).count()
    return {
        "ok": not missing and misplaced == 0,
        "missing_paths": missing,
        "misplaced_rows": misplaced,
        "n_buckets": n_buckets,
        "n_live_buckets": len(m["buckets"]),
    }


# ---------------------------------------------------------------------------
# streaming drift monitor: score each micro-batch's distribution
# against a persisted reference histogram (operators/drift.py)
# ---------------------------------------------------------------------------


def start_drift_monitor(
    stream_df: DataFrame,
    ref_dir: str,
    scores_dir: str,
    checkpoint: str,
    psi_threshold: float | None = None,
    on_drift=None,
    trigger: str | None = None,
    available_now: bool = False,
    query_name: str | None = None,
):
    """Per-micro-batch distribution monitoring: each batch is scored
    against the reference histogram persisted by
    ``operators.drift.build_drift_reference`` (ONE scan of the batch;
    the reference never rescans) and the per-column report rows —
    stamped with the epoch id — append to ``scores_dir`` as the
    monitoring table. The upstream-broke detector a training-data
    ingest needs: a feature column whose per-batch PSI jumps is caught
    at the batch that drifted, not at the next full-corpus audit.

    ``psi_threshold`` + ``on_drift(epoch_id, rows)`` is the alert hook
    (rows = the collected report rows at/above the threshold —
    driver-small, <= n_cols). The callback must not raise to "stop" the
    stream: a monitor that kills ingest on drift turns a data-quality
    signal into an outage; raise from your callback only if that trade
    is explicit — and alerts are AT-LEAST-once (a crash between the
    score write and the checkpoint commit replays the batch, re-firing
    the alert; the score ROWS themselves converge to one copy). Empty
    batches score nothing (no zero-count noise in the monitoring
    table)."""
    from iot_sensor_data_pipeline_spark.operators.drift import (
        drift_against_reference,
    )
    from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink

    if (psi_threshold is None) != (on_drift is None):
        raise ValueError(
            "psi_threshold and on_drift come together: the threshold "
            "without a callback alerts nobody; a callback without a "
            "threshold never fires"
        )
    # the scores table is itself a foreachBatch parquet append — route
    # it through the epoch-idempotent sink (scoped to THIS checkpoint's
    # lineage) or a replayed micro-batch would duplicate its report
    # rows forever
    scores_sink = parquet_batch_sink(scores_dir, checkpoint=checkpoint)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        # persisted before the emptiness probe: the probe and the
        # scoring scan share one evaluation of the batch's lineage
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            rep = drift_against_reference(batch_df, ref_dir).withColumn(
                "epoch", F.lit(epoch_id).cast("long")
            )
            if on_drift is not None:
                rep = rep.persist()  # scored once: the write + the alert probe
            try:
                scores_sink(rep.coalesce(1), epoch_id)
                if on_drift is not None:
                    flagged = rep.where(
                        F.col("psi").isNotNull() & (F.col("psi") >= psi_threshold)
                    ).collect()
                    if flagged:
                        on_drift(epoch_id, flagged)
            finally:
                if on_drift is not None:
                    rep.unpersist()
        finally:
            batch_df.unpersist()

    return _start(
        stream_df, (), checkpoint, trigger=trigger, query_name=query_name,
        foreach_batch=write, available_now=available_now,
    )


def start_constraint_monitor(
    stream_df: DataFrame,
    checks,
    reports_dir: str,
    checkpoint: str,
    quarantine_dir: str | None = None,
    on_violation=None,
    trigger: str | None = None,
    available_now: bool = False,
    query_name: str | None = None,
):
    """Per-micro-batch data-quality gate — the operational twin of
    :func:`start_drift_monitor`: every batch is evaluated against a
    declarative ``operators.constraints`` check suite (ALL row-level
    checks in ONE scan of the batch; unique/ref-integrity checks add
    their own aggregates) and the per-check report rows — epoch-stamped
    — append to ``reports_dir``. Where the drift monitor asks "did the
    DISTRIBUTION move", this asks "does every row still satisfy what
    the pipeline REQUIRES" (completeness, domains, keys), at the batch
    that broke it.

    ``quarantine_dir`` additionally diverts the batch's rows that
    violate ANY row-level check into a dead-letter table (original
    columns plus ``__violated`` — the comma-joined names of the failed
    checks), so downstream consumers read clean rows while nothing is
    silently dropped — the from_json corrupt-record discipline applied
    to semantic quality. Set-level checks (unique, ref_integrity)
    report but do not quarantine: a uniqueness violation has no single
    guilty row. NOTE: this monitor only OBSERVES the stream — it does
    not rewrite the main sink's rows; pair it with a filter in the
    pipeline when quarantined rows must not reach the primary table.

    ``on_violation(epoch_id, rows)`` fires when any check fails
    (rows = the collected failing report rows, <= n_checks —
    driver-small); same at-least-once alert contract as the drift
    monitor, and the callback must not raise to "stop" the stream.
    Both output tables ride the epoch-idempotent sink scoped to THIS
    checkpoint's lineage, so a replayed batch converges instead of
    duplicating report/quarantine rows."""
    from iot_sensor_data_pipeline_spark.operators.constraints import check_suite
    from iot_sensor_data_pipeline_spark.sources.sinks import parquet_batch_sink

    checks = list(checks)
    if not checks:
        raise ValueError("start_constraint_monitor: checks must be non-empty")
    if quarantine_dir and "__violated" in stream_df.columns:
        raise ValueError(
            "start_constraint_monitor: the stream already has a "
            "'__violated' column (the quarantine tag) — rename it"
        )
    reports_sink = parquet_batch_sink(reports_dir, checkpoint=checkpoint)
    quarantine_sink = (
        parquet_batch_sink(quarantine_dir, checkpoint=checkpoint)
        if quarantine_dir
        else None
    )
    row_checks = [c for c in checks if c.kind == "row"]

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        # persisted before the emptiness probe: the probe, the report
        # and the quarantine share one evaluation of the batch's lineage
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            rep = check_suite(batch_df, checks).withColumn(
                "epoch", F.lit(epoch_id).cast("long")
            )
            rep = rep.persist()  # written once, probed once for alerts
            try:
                reports_sink(rep.coalesce(1), epoch_id)
                if quarantine_sink is not None and row_checks:
                    violated = F.concat_ws(
                        ",",
                        *[
                            F.when(F.expr(c.violation_expr), F.lit(c.name))
                            for c in row_checks
                        ],
                    )
                    bad = batch_df.withColumn("__violated", violated).where(
                        F.col("__violated") != ""
                    )
                    # skip clean batches: an empty epoch write would
                    # mint a zero-row file per batch forever (checks
                    # are deterministic over the batch, so a replay
                    # skips the same way it wrote)
                    if not bad.isEmpty():
                        quarantine_sink(bad, epoch_id)
                if on_violation is not None:
                    failing = rep.where(F.col("n_violations") > 0).collect()
                    if failing:
                        on_violation(epoch_id, failing)
            finally:
                rep.unpersist()
        finally:
            batch_df.unpersist()

    return _start(
        stream_df, (), checkpoint, trigger=trigger, query_name=query_name,
        foreach_batch=write, available_now=available_now,
    )
