"""Pipeline orchestrator — the reference's main.py re-done correctly.

The reference starts its four jobs then blocks forever inside the mail
consumer's ``for msg in consumer`` loop, so its liveness poll is
unreachable (reference main.py:40-53, SURVEY.md §3.1 step 4). Here
every job is a StreamingQuery handle; the orchestrator owns a single
poll loop, propagates the first failure, and stops everything cleanly.

The notification sink (the reference's SMTP consumer) is just another
alerts sink of the ingest query's foreachBatch — in-process, checkpointed,
restart-safe — not an out-of-band Kafka consumer.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from iot_sensor_data_pipeline_spark.streaming.jobs import (
    BatchSink,
    start_aggregator,
    start_ingest,
)


@dataclass(frozen=True)
class MaintenancePolicy:
    """Thresholds that turn :func:`~.manifest.table_health` signals
    into :meth:`Pipeline.maintain` actions (VERDICT r11 task 2 — the
    probe, the optimizer and the recovery hook existed; this is the
    policy that connects them so a deployment self-maintains on a
    cadence instead of needing a human to read health reports).

    - ``target_bytes``: the OPTIMIZE bin size AND the small-file cut.
    - ``small_file_fraction``: optimize when at least this fraction of
      files is under ``target_bytes`` …
    - ``min_files``: … and the table has at least this many files
      (compacting a 3-file table buys nothing and churns the listing).
    - ``vacuum_min_reclaimable``: vacuum when the health probe's
      dry-run counts (sink staging + tmp + superseded metadata
      staging) total at least this many artifacts.
    - ``vacuum_min_age_seconds``: the vacuum age fence, passed through.
    - ``cooldown_seconds``: minimum wall-clock between OPTIMIZE
      attempts on one table, on top of the signature hysteresis
      (see :meth:`Pipeline.maintain`)."""

    target_bytes: int
    small_file_fraction: float = 0.5
    min_files: int = 8
    vacuum_min_reclaimable: int = 1
    vacuum_min_age_seconds: float = 3600.0
    cooldown_seconds: float = 0.0

    def __post_init__(self) -> None:
        if self.target_bytes < 1:
            raise ValueError("MaintenancePolicy: target_bytes must be >= 1")
        if not 0.0 <= self.small_file_fraction <= 1.0:
            raise ValueError(
                "MaintenancePolicy: small_file_fraction must be in [0, 1]"
            )


@dataclass(frozen=True)
class RetentionSpec:
    """Partition-expiry rule for a hive-partitioned table, acted on by
    :meth:`Pipeline.maintain` (r12: composes the maintenance loop with
    ``mutations.drop_partitions`` so a date-partitioned deployment
    self-expires instead of growing forever).

    Values compare as the VERBATIM directory strings, in LEX order —
    date-correct when partitions are spelled ISO (``dt=2024-01-02``)
    or zero-padded (``hour=00``), which is the layout the sinks
    produce. Exactly one of:

    - ``keep_latest``: keep the N lex-greatest values of ``column``,
      drop every older one (count-based retention — "last 30 days" for
      a daily-partitioned table that writes every day);
    - ``drop_below``: drop every value strictly below the cutoff; a
      callable is re-evaluated each tick (wall-clock retention:
      ``lambda: (date.today() - timedelta(days=30)).isoformat()``).

    Drops run with ``on_live="skip"``: a subtree still holding a live
    lineage's newest epoch survives this tick and expires on a later
    one, so retention never races a stream's replay."""

    column: str
    keep_latest: int | None = None
    drop_below: str | Callable[[], str] | None = None

    def __post_init__(self) -> None:
        if (self.keep_latest is None) == (self.drop_below is None):
            raise ValueError(
                "RetentionSpec: set exactly one of keep_latest/drop_below"
            )
        if self.keep_latest is not None and self.keep_latest < 1:
            raise ValueError("RetentionSpec: keep_latest must be >= 1")

    def doomed(self, values: list[str]) -> list[str]:
        """The subset of (sorted) partition values this rule expires."""
        if self.keep_latest is not None:
            return values[: max(0, len(values) - self.keep_latest)]
        cutoff = str(
            self.drop_below() if callable(self.drop_below) else self.drop_below
        )  # str(): a date/datetime cutoff renders as its ISO spelling
        return [v for v in values if v < cutoff]


@dataclass(frozen=True)
class MatviewSpec:
    """An incrementally-maintained aggregate view
    (``sources/matview.py``) the maintenance loop keeps fresh: each
    :meth:`Pipeline.maintain` tick calls ``refresh_agg_view`` — a
    metadata-grain no-op poll when the source has nothing new, a
    key-grain fold when mutations (change feed) or streaming appends
    (newly sealed sink epochs) landed; a tracked source's checkpoints
    pass through as the live newest-epoch exclusion automatically. ``keys``/``value_col``
    make the tick SELF-HEALING: when set and the view does not exist
    yet (first deployment, or an operator re-baselined by deleting the
    view after a feed gap), the tick runs ``create_agg_view`` instead
    of erroring. ``src`` is a tracked-table name (resolved through
    :attr:`Pipeline.tables`) or a raw path."""

    src: str
    mv_path: str
    keys: tuple[str, ...] = ()
    value_col: str | tuple[str, ...] | None = None
    single_file: bool = True
    distinct_cols: tuple[str, ...] = ()
    histogram_cols: dict | None = None
    where: str | None = None

    def __post_init__(self) -> None:
        if bool(self.keys) != (self.value_col is not None):
            raise ValueError(
                "MatviewSpec: keys and value_col come together (both set "
                "-> self-creating; both unset -> refresh-only)"
            )


@dataclass(frozen=True)
class SearchIndexSpec:
    """A persisted search index (``operators/retrieval.py``) the
    maintenance loop keeps in step with its mutable source corpus
    through the change feed: each :meth:`Pipeline.maintain` tick runs
    ``sync_inverted_index`` (``kind="tf"`` — BM25) or
    ``sync_positional_index`` (``kind="positional"`` — phrase search)
    — a cursor-check no-op when the feed is quiet, an
    O(changed-documents) retire+re-post when mutations landed. A
    MISSING index baselines itself via ``baseline_search_index``
    (self-healing after a re-baseline delete, same pattern as
    :class:`MatviewSpec`). The index's ``_sync_state.json`` cursor
    also registers it as a feed consumer, so the tick's feed expiry
    clamps to it automatically. ``src`` is a tracked-table name or a
    raw path."""

    src: str
    index_path: str
    kind: str = "tf"
    id_col: str = "doc_id"
    text_col: str = "text"
    bloom_cols: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        if self.kind not in ("tf", "positional"):
            raise ValueError(
                f"SearchIndexSpec: kind must be 'tf' or 'positional', "
                f"got {self.kind!r}"
            )


@dataclass(frozen=True)
class TableSpec:
    """A maintained table: where it lives, which live streams feed it
    (their checkpoints gate the newest-epoch exclusion during a live
    OPTIMIZE), and which skipping indexes it carries.
    ``sink_maintains_indexes=True`` marks tables whose SINK refreshes
    the manifest/bloom per batch — the one-maintenance-writer rule
    (see ``optimize_table``'s caveat): maintain() then never touches
    those indexes itself. ``retention`` expires old partitions each
    maintain tick (see :class:`RetentionSpec`)."""

    path: str
    checkpoints: tuple[str, ...] = ()
    manifest_cols: tuple[str, ...] = ()
    bloom_cols: tuple[str, ...] = ()
    cluster_by: tuple[str, ...] = ()
    sink_maintains_indexes: bool = False
    retention: RetentionSpec | None = None
    #: keep this many newest change-feed versions; each maintain tick
    #: expires older ones, CLAMPED to the slowest consumer cursor —
    #: the tick's own tracked matviews on this table are protected
    #: automatically (they refresh FIRST in the tick), and
    #: ``feed_consumers`` registers external replica/MV paths the
    #: expiry must also never strand. None = never expire.
    feed_keep: int | None = None
    feed_consumers: tuple[str, ...] = ()


def _refuse_split_checkpoints(spark, checkpoint_root: str) -> None:
    """Raise when ``<checkpoint_root>/persistence`` or ``/alerts`` — the
    checkpoints of the earlier layout, where persistence and alerts
    were separate queries — holds an offsets log."""
    jvm = spark._jvm
    old = [f"{checkpoint_root}/persistence", f"{checkpoint_root}/alerts"]
    live = []
    for d in old:
        offsets = jvm.org.apache.hadoop.fs.Path(f"{d}/offsets")
        fs = offsets.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(offsets) and any(
            st.getPath().getName().isdigit() for st in fs.listStatus(offsets)
        ):
            live.append(d)
    if live:
        raise RuntimeError(
            f"start_standard_jobs: {old[0]} and {old[1]} are the "
            "checkpoints of separate persistence and alerts queries, and "
            f"{' and '.join(live)} holds an offsets log. Both jobs now "
            f"run as one query checkpointed at {checkpoint_root}/ingest; "
            "the old logs may stand at different offsets, so resuming "
            "either would lose or repeat alerts. Drain and stop the old "
            "queries, then move both directories away (or start from a "
            "new checkpoint_root)."
        )


class Pipeline:
    """Owns the engine's streaming queries; context-manager lifecycle."""

    def __init__(self) -> None:
        self.queries: dict[str, StreamingQuery] = {}
        self.tables: dict[str, TableSpec] = {}
        self.matviews: dict[str, MatviewSpec] = {}
        self.search_indexes: dict[str, SearchIndexSpec] = {}
        #: per-table OPTIMIZE hysteresis: post-optimize listing
        #: signature + monotonic timestamp of the last attempt
        self._maint_state: dict[str, dict] = {}
        #: the most recent await_all maintenance tick's report
        self.last_maintenance: dict[str, dict] = {}

    def track_table(
        self,
        name: str,
        path: str,
        checkpoints: Sequence[str] = (),
        manifest_cols: Sequence[str] = (),
        bloom_cols: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        sink_maintains_indexes: bool = False,
        retention: RetentionSpec | None = None,
        feed_keep: int | None = None,
        feed_consumers: Sequence[str] = (),
    ) -> "Pipeline":
        """Register a sink table for :meth:`maintain` — call it where
        the sink is built, so the orchestrator knows each table's
        checkpoint(s) (the live-OPTIMIZE newest-epoch exclusion) and
        index columns without re-deriving them at maintenance time."""
        if name in self.matviews or name in self.search_indexes:
            raise ValueError(
                f"track_table: {name!r} is already a tracked matview or "
                "search index — the maintenance report keys all by name"
            )
        self.tables[name] = TableSpec(
            path,
            tuple(checkpoints),
            tuple(manifest_cols),
            tuple(bloom_cols),
            tuple(cluster_by),
            sink_maintains_indexes,
            retention,
            feed_keep,
            tuple(feed_consumers),
        )
        return self

    def track_matview(
        self,
        name: str,
        src: str,
        mv_path: str,
        keys: Sequence[str] = (),
        value_col: str | Sequence[str] | None = None,
        single_file: bool = True,
        distinct_cols: Sequence[str] = (),
        histogram_cols: dict | None = None,
        where: str | None = None,
    ) -> "Pipeline":
        """Register an incrementally-maintained aggregate view for
        :meth:`maintain` (see :class:`MatviewSpec`). ``src`` is a name
        previously given to :meth:`track_table` or a raw table path;
        the name must not collide with a tracked table (both share the
        maintenance report's keyspace)."""
        if name in self.tables or name in self.search_indexes:
            raise ValueError(
                f"track_matview: {name!r} is already a tracked table or "
                "search index — the maintenance report keys all by name"
            )
        self.matviews[name] = MatviewSpec(
            src, mv_path, tuple(keys),
            tuple(value_col) if isinstance(value_col, (list, tuple))
            else value_col,
            single_file, tuple(distinct_cols), histogram_cols, where,
        )
        return self

    def track_search_index(
        self,
        name: str,
        src: str,
        index_path: str,
        kind: str = "tf",
        id_col: str = "doc_id",
        text_col: str = "text",
        bloom_cols: Sequence[str] = (),
    ) -> "Pipeline":
        """Register a persisted search index for :meth:`maintain` (see
        :class:`SearchIndexSpec`): the tick keeps it synced with its
        source's change feed, baselines it when missing, and counts it
        as a feed consumer for expiry clamping."""
        if name in self.tables or name in self.matviews:
            raise ValueError(
                f"track_search_index: {name!r} is already a tracked "
                "table or matview — the maintenance report keys all "
                "by name"
            )
        self.search_indexes[name] = SearchIndexSpec(
            src, index_path, kind, id_col, text_col, tuple(bloom_cols)
        )
        return self

    def add(self, name: str, query: StreamingQuery) -> None:
        self.queries[name] = query

    def start_standard_jobs(
        self,
        raw_factory: Callable[[], DataFrame],
        checkpoint_root: str,
        readings_sinks: Sequence[BatchSink],
        alerts_sinks: Sequence[BatchSink],
        agg_sinks: Sequence[BatchSink],
        **agg_kw,
    ) -> "Pipeline":
        """Start the reference's three jobs as two checkpointed
        subscriptions, each reading the source once per micro-batch for
        ALL its sinks. ``raw_factory`` builds one source DataFrame per
        query:

        - ``<checkpoint_root>/ingest``: persistence and alerts
          (:func:`~.jobs.start_ingest`) — one parse per micro-batch
          feeds ``readings_sinks``, then ``alerts_sinks``, under one
          epoch. ``self.queries`` maps both ``"persistence"`` and
          ``"alerts"`` to this one query;
        - ``<checkpoint_root>/aggregator``: the windowed aggregation,
          whose state lives in its own streaming plan.

        Refuses, before any query starts, to run over the earlier
        layout's ``persistence/`` or ``alerts/`` checkpoint when either
        holds an offsets log: the two logs may stand at different
        offsets, so resuming either one as the merged query would lose
        or repeat alerts."""
        raw = raw_factory()
        _refuse_split_checkpoints(raw.sparkSession, checkpoint_root)
        ingest = start_ingest(
            raw, readings_sinks, alerts_sinks, f"{checkpoint_root}/ingest"
        )
        self.add("persistence", ingest)
        self.add("alerts", ingest)
        self.add(
            "aggregator",
            start_aggregator(raw_factory(), agg_sinks, f"{checkpoint_root}/aggregator", **agg_kw),
        )
        return self

    def _distinct(self) -> dict[str, StreamingQuery]:
        """One entry per distinct query, keyed by the names it is
        registered under, joined with '+' (``"persistence+alerts"``
        for the shared ingest query)."""
        names: dict[int, list[str]] = {}
        queries: dict[int, StreamingQuery] = {}
        for name, q in self.queries.items():
            names.setdefault(id(q), []).append(name)
            queries[id(q)] = q
        return {"+".join(names[k]): q for k, q in queries.items()}

    def await_all(
        self,
        poll_seconds: float = 1.0,
        timeout: float | None = None,
        spark=None,
        maintenance_policy: "MaintenancePolicy | None" = None,
        maintenance_interval_seconds: float = 3600.0,
    ) -> None:
        """Liveness loop (the one the reference never reaches): returns
        when every query stops; raises the first query exception.

        With ``spark`` + ``maintenance_policy``, the loop ALSO
        self-maintains: every ``maintenance_interval_seconds`` it runs
        one :meth:`maintain` tick over the tracked tables (r12 — the
        reference's orchestrator pattern polls liveness forever and
        never acts, reference main.py:48-53; here the same loop that
        watches the queries keeps their sink tables compacted, indexed
        and vacuumed). Each tick's report lands in
        ``self.last_maintenance`` for operators to scrape; a tick that
        raises is logged and the loop keeps both polling and ticking —
        maintenance must never take the pipeline down."""
        deadline = None if timeout is None else time.monotonic() + timeout
        maintaining = spark is not None and maintenance_policy is not None
        next_tick = time.monotonic() if maintaining else None
        while True:
            distinct = self._distinct()
            active = [q for q in distinct.values() if q.isActive]
            for name, q in distinct.items():
                if not q.isActive and q.exception() is not None:
                    self.stop_all()
                    raise RuntimeError(f"query '{name}' failed") from q.exception()
            if not active:
                return
            if maintaining and time.monotonic() >= next_tick:
                import logging

                try:
                    self.last_maintenance = self.maintain(
                        spark, maintenance_policy
                    )
                except Exception:  # noqa: BLE001 — keep the pipeline up
                    logging.getLogger(__name__).warning(
                        "await_all: maintenance tick failed; queries "
                        "keep running", exc_info=True,
                    )
                next_tick = time.monotonic() + maintenance_interval_seconds
            if deadline is not None and time.monotonic() > deadline:
                return
            time.sleep(poll_seconds)

    def recover_on_start(self, spark, tables: dict[str, str]) -> dict[str, str]:
        """Run :func:`~.manifest.recover_optimize` over every table the
        pipeline's sinks feed, BEFORE any query starts — closing the
        duplicate window an interrupted OPTIMIZE swap leaves open
        (VERDICT r10 task 6): the journal's retire list may still be on
        disk next to all the adds, so readers see every row twice until
        recovery rolls the swap forward (or back, when any add is
        missing). Without this hook, recovery only ran when the NEXT
        optimize started — on a table optimized weekly, a crash leaves
        duplicates visible for up to a week. Call it in the same boot
        step that starts the queries (a crashed maintenance writer is
        exactly the case where the orchestrator restarts).

        Returns ``{name: 'forward' | 'back' | 'clean'}``. A table whose
        recovery fails (directory vanished, FS hiccup) is reported as
        ``'error'`` and the rest still recover — a missed recovery is
        the status quo ante, never new corruption."""
        import logging

        from iot_sensor_data_pipeline_spark.sources.manifest import (
            recover_optimize,
        )

        log = logging.getLogger(__name__)
        out: dict[str, str] = {}
        for name, path in tables.items():
            try:
                out[name] = recover_optimize(spark, path)
            except Exception:  # noqa: BLE001 — per-table isolation
                log.warning(
                    "recover_on_start: recovery failed for %s (%s); "
                    "reads may see an interrupted swap's duplicates "
                    "until the next successful optimize",
                    name, path, exc_info=True,
                )
                out[name] = "error"
        return out

    def health(
        self, spark, tables: dict[str, str], target_bytes: int | None = None
    ) -> dict[str, dict]:
        """Per-table :func:`~.manifest.table_health` probe — the
        scheduled heartbeat companion to :meth:`maintain` (maintain
        ACTS; this only OBSERVES: metadata-grain, zero mutation, zero
        data reads). A table whose
        probe fails (not created yet, FS hiccup) reports
        ``{"error": <message>}`` and the rest still report."""
        from iot_sensor_data_pipeline_spark.sources.manifest import (
            table_health,
        )

        out: dict[str, dict] = {}
        for name, path in tables.items():
            try:
                out[name] = table_health(spark, path, target_bytes)
            except Exception as e:  # noqa: BLE001 — per-table isolation
                out[name] = {"error": str(e)}
        return out

    def maintain(
        self,
        spark,
        policy: MaintenancePolicy,
        tables: dict[str, TableSpec] | None = None,
    ) -> dict[str, dict]:
        """ONE self-maintenance tick: read each tracked table's
        :func:`~.manifest.table_health` and act on it (VERDICT r11
        task 2 — closes the observe→plan→act loop the reference's
        orchestrator pattern polls forever without ever acting on,
        reference main.py:48-53). Per table, in order:

        1. **OPTIMIZE** when ``small_file_fraction >=
           policy.small_file_fraction`` and ``n_files >=
           policy.min_files`` — one ``optimize_table`` for either
           layout (``cluster_by`` on a partitioned table fails the
           table's step with an error), with the spec's ``checkpoints`` as
           ``live_checkpoints`` (newest live epoch excluded, so the
           stream keeps running) and the spec's index columns refreshed
           by the swap itself (skipped when
           ``sink_maintains_indexes``). HYSTERESIS: the post-optimize
           listing signature (n_files, total_bytes) is remembered; as
           long as the table's current signature equals it — nothing
           landed since — the trigger is ignored, so a table whose
           residual files sit under ``target_bytes`` (small table; bins
           below ``min_bin_files``) is not re-planned every tick, and
           ``cooldown_seconds`` rate-limits re-attempts once new data
           does land.
        2. **recover** a pending OPTIMIZE journal when no optimize ran
           this tick (the optimize path runs recovery itself).
        3. **index refresh** when the health probe reports
           ``n_uncovered > 0`` (or index columns are declared but no
           index exists yet) and neither an optimize this tick nor the
           sink owns the refresh.
        4. **VACUUM** when the dry-run reclaimable counts total at
           least ``policy.vacuum_min_reclaimable`` (the real run
           re-applies ``policy.vacuum_min_age_seconds``, so a live
           writer's young staging is still spared).
        5. **retention** (r12) when the spec carries a
           :class:`RetentionSpec` and the table is partitioned: expired
           partition values drop metadata-only via
           ``mutations.drop_partitions`` with ``on_live="skip"`` — a
           subtree holding a live lineage's newest epoch survives the
           tick and expires later, so retention never resurrects rows
           through a stream replay. As-of watermarks arm before the
           deletes, exactly as a manual drop does.
        6. **materialized views** (r12; runs FIRST in the tick): every
           :meth:`track_matview` entry refreshes from its source's
           change feed AND newly sealed sink epochs — a metadata-grain
           poll when nothing changed, a key-grain fold (plus
           dirty-group recompute) when mutations or appends landed; a
           missing view whose spec declares ``keys``/``value_col`` is
           created instead (self-healing after a re-baseline). The
           tracked source's checkpoints pass through as the live
           newest-epoch exclusion; refreshing BEFORE the table actions
           plus passing each view's POST-REFRESH epoch cursors to the
           OPTIMIZE as ``epoch_caps`` (r13, ADVICE r12) guarantees this
           tick's OPTIMIZE never compacts an epoch a tracked view has
           not absorbed — even when an epoch seals BETWEEN the
           refresh's listing and the OPTIMIZE's (the two-listing race);
           the capped epochs compact on a later tick. A failed refresh
           contributes an empty cap (nothing of that source's epochs
           compacts this tick — conservative). A ``tables`` subset
           scopes this loop too, by tracked-table name or path.
        6b. **search indexes** (r13): every :meth:`track_search_index`
           entry syncs from its source's change feed
           (``operators/retrieval.py`` — a cursor-check no-op when the
           feed is quiet, an O(changed-docs) retire+re-post when
           mutations landed); a missing index baselines itself. Runs
           with the views, before the table actions, so the expiry
           clamp below sees fresh cursors. Indexes consume the feed
           only, so they impose no epoch cap on OPTIMIZE. Because
           every sync APPENDS posting files, the tick also runs the
           table policy's health→OPTIMIZE on the index directory
           itself (r15) — same trigger, signature hysteresis and
           cooldown as step 1; the swap preserves the
           ``_sync_state.json`` cursor/stats sidecar and refreshes the
           postings' bloom index, keeping file count bounded under
           indefinite sync cadence.
        7. **feed expiry** (r12): a spec with ``feed_keep`` expires
           change-feed versions beyond it each tick, clamped to the
           slowest consumer cursor — this tick's own tracked matviews
           AND search indexes (already refreshed/synced; an ABSENT
           artifact awaiting re-baseline is skipped) plus any
           ``feed_consumers`` paths (strict: a typo'd path fails
           loudly) — so feed retention runs on the maintenance cadence
           without ever stranding a consumer. Expiry runs in its OWN
           try: its failure reports as ``feed_expiry_error`` without
           aborting the table's other actions or stamping the optimize
           cooldown.

        Per-table isolation throughout: one table's failure reports as
        ``{"error": ...}`` and the rest still maintain. Returns
        ``{name: {"health": ..., "actions": {...}}}`` — the tick's
        audit record. Steady state is all-empty ``actions``: a second
        tick right after a successful one observes, decides nothing,
        and mutates nothing."""
        import logging

        from iot_sensor_data_pipeline_spark.sources.bloom_index import (
            update_bloom_index,
            write_bloom_index,
        )
        from iot_sensor_data_pipeline_spark.sources.manifest import (
            recover_optimize,
            table_health,
            update_manifest,
            vacuum_table,
        )

        log = logging.getLogger(__name__)
        out: dict[str, dict] = {}
        table_set = tables or self.tables
        table_paths = {s.path for s in table_set.values()}
        # materialized views FIRST: they must absorb the sealed sink
        # epochs BEFORE this tick's OPTIMIZE can compact those epochs
        # into epoch-less files. Because the refresh and the OPTIMIZE
        # take SEPARATE listings, an epoch sealing between them could
        # still compact above the view's cursor — so each view's
        # post-refresh epoch cursors are collected here and passed to
        # the OPTIMIZE as ``epoch_caps`` (ADVICE r12): epochs a tracked
        # view has not absorbed are not compactable this tick, period.
        # Feed-carrying mutations are never run by maintain itself, so
        # nothing is lost by running the views early; retention's
        # drop_partitions is deliberately feed-less either way (an MV
        # over a retention-expired table needs delete_where-based
        # retention or a re-create after drops). Noop polls keep the
        # steady-state all-empty-actions invariant. A ``tables`` subset
        # scopes the view loop too (by tracked-table name or path).
        mv_cursor_contribs: dict[str, list[dict[str, int]]] = {}
        for name, mspec in self.matviews.items():
            if tables is not None and not (
                mspec.src in table_set or mspec.src in table_paths
            ):
                continue
            mv_actions: dict[str, object] = {}
            cursors: dict[str, int] | None = None
            if mspec.src in self.tables:
                src_spec = self.tables[mspec.src]
                src_path = src_spec.path
                # the tracked table knows its live streams — the
                # MV applies the same newest-epoch exclusion a
                # live OPTIMIZE does, so appends absorb only once
                # sealed
                live = src_spec.checkpoints
            else:
                src_path, live = mspec.src, ()
            try:
                from iot_sensor_data_pipeline_spark.sources.manifest import (
                    _versions_in,
                )
                from iot_sensor_data_pipeline_spark.sources.matview import (
                    create_agg_view,
                    refresh_agg_view,
                )

                if not _versions_in(spark, mspec.mv_path):
                    if mspec.keys:
                        res = create_agg_view(
                            spark, src_path, mspec.mv_path,
                            list(mspec.keys),
                            list(mspec.value_col)
                            if isinstance(mspec.value_col, tuple)
                            else mspec.value_col,
                            single_file=mspec.single_file,
                            live_checkpoints=live,
                            distinct_cols=mspec.distinct_cols,
                            histogram_cols=mspec.histogram_cols,
                            where=mspec.where,
                        )
                        mv_actions["mv_create"] = res
                        cursors = dict(res["epoch_cursors"])
                    else:
                        # absent refresh-only view: constrains nothing
                        # (a later re-create baselines from the table,
                        # compacted files included)
                        mv_actions["status"] = "absent"
                else:
                    res = refresh_agg_view(
                        spark, src_path, mspec.mv_path,
                        single_file=mspec.single_file,
                        live_checkpoints=live,
                    )
                    cursors = dict(res["epoch_cursors"])
                    if res["status"] == "refreshed":
                        mv_actions["mv_refresh"] = res
            except Exception as e:  # noqa: BLE001 — per-view isolation
                log.warning(
                    "maintain: matview refresh failed for %s (%s); the "
                    "view keeps its last committed version", name,
                    mspec.mv_path, exc_info=True,
                )
                mv_actions["error"] = str(e)
                # a view in an unknown state caps EVERYTHING on its
                # source: an empty contribution intersects to no
                # compactable epochs this tick — conservative
                cursors = {}
            if cursors is not None:
                mv_cursor_contribs.setdefault(src_path, []).append(cursors)
            out[name] = {"health": None, "actions": mv_actions}
        # search indexes next (r13): same feed-follow discipline as the
        # views — sync BEFORE feed expiry so the cursors are fresh; a
        # missing index baselines itself (self-healing). Indexes
        # consume the FEED only (never epoch file names), so they
        # need no epoch cap on the tick's OPTIMIZE.
        for name, ispec in self.search_indexes.items():
            if tables is not None and not (
                ispec.src in table_set or ispec.src in table_paths
            ):
                continue
            ix_actions: dict[str, object] = {}
            src_path = (
                self.tables[ispec.src].path
                if ispec.src in self.tables else ispec.src
            )
            try:
                from iot_sensor_data_pipeline_spark.operators.retrieval import (
                    baseline_search_index,
                    sync_inverted_index,
                    sync_positional_index,
                )
                from iot_sensor_data_pipeline_spark.sources.manifest import (
                    _fs_for,
                )

                fs, iroot, _jvm = _fs_for(spark, ispec.index_path)
                if not fs.exists(iroot):
                    ix_actions["index_create"] = baseline_search_index(
                        spark, src_path, ispec.index_path, ispec.kind,
                        ispec.id_col, ispec.text_col,
                    )
                else:
                    sync = (
                        sync_inverted_index if ispec.kind == "tf"
                        else sync_positional_index
                    )
                    res = sync(
                        spark, src_path, ispec.index_path,
                        ispec.id_col, ispec.text_col,
                        bloom_cols=ispec.bloom_cols or None,
                    )
                    if res["applied_versions"]:
                        ix_actions["index_sync"] = res
                # compaction (r15, VERDICT r14 task 6): every sync
                # APPENDS posting files, so a followed index fragments
                # without bound — the table loop's health->OPTIMIZE
                # policy (trigger + signature hysteresis + cooldown)
                # runs here too. The journaled in-place swap never
                # touches the `_`-prefixed _sync_state.json sidecar
                # (cursor + corpus stats survive), and the postings'
                # bloom index refreshes incrementally over the swap,
                # so probes (incl. sidecar-stats probes) are
                # hash-identical before and after.
                ih = table_health(
                    spark, ispec.index_path, policy.target_bytes,
                    vacuum_min_age_seconds=policy.vacuum_min_age_seconds,
                )
                ires = self._optimize_if_due(
                    spark, name, ispec.index_path, ih, policy,
                    bloom_cols=ispec.bloom_cols or None,
                )
                if ires is not None:
                    ix_actions["optimize"] = ires
                elif ih["pending_journal"]:
                    ix_actions["recover"] = recover_optimize(
                        spark, ispec.index_path
                    )
            except Exception as e:  # noqa: BLE001 — per-index isolation
                log.warning(
                    "maintain: search-index sync failed for %s (%s); "
                    "the index keeps its last state", name,
                    ispec.index_path, exc_info=True,
                )
                ix_actions["error"] = str(e)
            out[name] = {"health": None, "actions": ix_actions}
        # per-source cap = the SLOWEST tracked view: a lineage is
        # compactable through epoch N only when EVERY contributing view
        # has absorbed through N (intersection of lineages, min cursor)
        epoch_caps_by_path: dict[str, dict[str, int]] = {}
        for p, contribs in mv_cursor_contribs.items():
            shared = set(contribs[0])
            for c in contribs[1:]:
                shared &= set(c)
            epoch_caps_by_path[p] = {
                lin: min(c[lin] for c in contribs) for lin in shared
            }
        for name, spec in table_set.items():
            actions: dict[str, object] = {}
            try:
                h = table_health(
                    spark, spec.path, policy.target_bytes,
                    vacuum_min_age_seconds=policy.vacuum_min_age_seconds,
                )
            except ValueError:
                # not created yet (stream has not committed a batch)
                out[name] = {"health": None, "actions": {"status": "absent"}}
                continue
            except Exception as e:  # noqa: BLE001 — per-table isolation
                out[name] = {"health": None, "actions": {"error": str(e)}}
                continue
            idx_kw = (
                {}
                if spec.sink_maintains_indexes
                else {
                    "manifest_cols": spec.manifest_cols or None,
                    "bloom_cols": spec.bloom_cols or None,
                }
            )
            try:
                res = self._optimize_if_due(
                    spark, name, spec.path, h, policy,
                    cluster_by=spec.cluster_by or None,
                    live_checkpoints=spec.checkpoints,
                    epoch_caps=epoch_caps_by_path.get(spec.path), **idx_kw,
                )
                optimized = res is not None
                if optimized:
                    actions["optimize"] = res
                elif h["pending_journal"]:
                    actions["recover"] = recover_optimize(spark, spec.path)
                if not optimized and not spec.sink_maintains_indexes:
                    m = h["manifest"]
                    if spec.manifest_cols and (
                        m is None or m["n_uncovered"] > 0
                    ):
                        # update_manifest falls back to a full build
                        # when no manifest exists yet
                        update_manifest(
                            spark, spec.path, list(spec.manifest_cols)
                        )
                        actions["manifest_refresh"] = True
                    if spec.bloom_cols:
                        bname = "_bloom_" + "_".join(spec.bloom_cols)
                        b = h["bloom_indexes"].get(bname)
                        if b is None:
                            write_bloom_index(
                                spark, spec.path, list(spec.bloom_cols),
                                expected_keys_per_file=100_000,
                            )
                            actions["bloom_refresh"] = "built"
                        elif b["n_uncovered"] > 0:
                            update_bloom_index(
                                spark, spec.path, list(spec.bloom_cols)
                            )
                            actions["bloom_refresh"] = "updated"
                if (
                    sum(h["reclaimable"].values())
                    >= policy.vacuum_min_reclaimable
                ):
                    actions["vacuum"] = vacuum_table(
                        spark, spec.path,
                        min_age_seconds=policy.vacuum_min_age_seconds,
                    )
                if spec.retention is not None and h["partitioned"]:
                    from iot_sensor_data_pipeline_spark.sources.mutations import (
                        drop_partitions,
                        partition_values,
                    )

                    ret = spec.retention
                    doomed = ret.doomed(
                        partition_values(spark, spec.path, ret.column)
                    )
                    if doomed:
                        # on_live="skip": a doomed subtree holding a
                        # live lineage's newest epoch survives this
                        # tick and expires on a later one — retention
                        # must never race a stream's replay
                        actions["retention"] = drop_partitions(
                            spark, spec.path, {ret.column: doomed},
                            live_checkpoints=spec.checkpoints,
                            on_live="skip", **idx_kw,
                        )
                if spec.feed_keep is not None:
                    # its OWN try (ADVICE r12): an expiry failure must
                    # not tag the whole table's report with an error or
                    # stamp the optimize cooldown for an unrelated step
                    try:
                        from iot_sensor_data_pipeline_spark.sources.manifest import (
                            _versions_in,
                        )
                        from iot_sensor_data_pipeline_spark.sources.mutations import (
                            change_feed_versions,
                            expire_change_feed,
                        )

                        n_feed = len(
                            change_feed_versions(spark, spec.path)
                        )
                        if n_feed > spec.feed_keep:
                            # tracked matviews on this table refreshed
                            # at the top of THIS tick, so their cursors
                            # are fresh; an ABSENT tracked view (deleted
                            # for re-baseline) is skipped — its re-create
                            # baselines from the table, not the feed —
                            # while explicit feed_consumers stay strict
                            # (a typo'd path must fail, not silently
                            # protect nothing). External consumers
                            # register via feed_consumers.
                            from iot_sensor_data_pipeline_spark.sources.manifest import (  # noqa: E501
                                _fs_for,
                            )

                            def _exists(p: str) -> bool:
                                fs2, r2, _j2 = _fs_for(spark, p)
                                return bool(fs2.exists(r2))

                            consumers = list(spec.feed_consumers) + [
                                m.mv_path for m in self.matviews.values()
                                if (m.src == name or m.src == spec.path)
                                and _versions_in(spark, m.mv_path)
                            ] + [
                                ix.index_path
                                for ix in self.search_indexes.values()
                                if (ix.src == name or ix.src == spec.path)
                                and _exists(ix.index_path)
                            ]
                            exp = expire_change_feed(
                                spark, spec.path, spec.feed_keep,
                                consumers=consumers,
                            )
                            if exp["n_expired"] or exp["clamped_by"]:
                                actions["feed_expiry"] = exp
                    except Exception as e:  # noqa: BLE001
                        log.warning(
                            "maintain: feed expiry failed for %s (%s); "
                            "the feed keeps its versions", name,
                            spec.path, exc_info=True,
                        )
                        actions["feed_expiry_error"] = str(e)
                out[name] = {"health": h, "actions": actions}
            except Exception as e:  # noqa: BLE001 — per-table isolation
                log.warning(
                    "maintain: action failed for %s (%s); table left as "
                    "the failed step found it — every step is "
                    "individually crash-safe", name, spec.path, exc_info=True,
                )
                # a PERSISTENT failure (e.g. the schema-evolution
                # guard) would otherwise re-attempt every tick —
                # stamp the attempt time so cooldown_seconds
                # rate-limits retries; post_sig None never matches a
                # real signature, so new data still re-arms instantly
                # once the cooldown passes
                self._maint_state[name] = {
                    "post_sig": None, "t": time.monotonic(),
                }
                actions["error"] = str(e)
                out[name] = {"health": h, "actions": actions}
        return out

    def _optimize_if_due(
        self, spark, name: str, path: str, health: dict,
        policy: MaintenancePolicy, **optimize_kw,
    ) -> dict | None:
        """The health->OPTIMIZE trigger :meth:`maintain` applies to
        tables and search indexes alike: run ``optimize_table`` when
        the small-file trigger fires, unless the HYSTERESIS signature
        (the post-optimize (n_files, total_bytes) listing) still
        matches — nothing landed since — or the last attempt is within
        ``policy.cooldown_seconds``. Returns the optimize result, or
        None when the trigger did not run it."""
        from iot_sensor_data_pipeline_spark.sources.manifest import (
            _walk_data_files,
            optimize_table,
        )

        state = self._maint_state.get(name)
        trigger = (
            health.get("small_file_fraction", 0.0)
            >= policy.small_file_fraction
            and health["n_files"] >= policy.min_files
        )
        quiet = state is not None and (
            health["n_files"], health["total_bytes"]
        ) == state["post_sig"]
        cooling = (
            state is not None
            and time.monotonic() - state["t"] < policy.cooldown_seconds
        )
        if not trigger or quiet or cooling:
            return None
        res = optimize_table(spark, path, policy.target_bytes, **optimize_kw)
        walked = _walk_data_files(spark, path)
        self._maint_state[name] = {
            "post_sig": (len(walked), sum(s for _f, s in walked)),
            "t": time.monotonic(),
        }
        return res

    def process_all_available(self) -> None:
        """Drain every query synchronously (test/batch-drive mode)."""
        for q in self._distinct().values():
            q.processAllAvailable()

    def stop_all(self) -> None:
        for q in self._distinct().values():
            if q.isActive:
                q.stop()

    def __enter__(self) -> "Pipeline":
        return self

    def __exit__(self, *exc) -> None:
        self.stop_all()
