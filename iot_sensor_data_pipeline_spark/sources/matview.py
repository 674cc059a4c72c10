"""Incrementally-maintained aggregate materialized views, fed by the
mutation change feed — the consumer that makes the feed pay for itself.

Why this exists: at 100 TB the question "sum/avg/min/max of X per
group, right now" cannot be answered by re-scanning the corpus on
every dashboard tick, and the classic answer — a scheduled full
``GROUP BY`` rebuild — re-reads everything to reflect a mutation that
touched a handful of rows. This module maintains the aggregate
INCREMENTALLY from the table's change data feed
(``mutations.read_change_feed``): each refresh reads ONLY the new feed
versions (row images of what actually changed), folds signed deltas
into the stored per-group moments, and commits a new MV version. Cost
per refresh is O(changed rows + MV size), independent of the base
table — the incremental view maintenance ("counting algorithm")
literature's self-maintainable-aggregate case, expressed as two
key-grain DataFrame joins.

Design (Spark-first):

- **stored partials, derived finals.** The MV stores the associative
  moments per group — ``n_rows`` (count(*)) plus, per measure column,
  count of non-NULL values, sum, sum-of-squares, min, max — the same
  mergeable algebra as ``operators.sketches.partial_aggregates``, so
  ``read_agg_view`` can also answer any COARSER grouping of the MV
  keys by re-merging partial rows (no base-table access). avg/stddev
  derive at read time; deriving them per partial and averaging would
  weight groups, not rows. SEVERAL measure columns share one MV — one
  feed fold maintains all of them (N measures never cost N refreshes).
- **sum/count are self-maintainable; min/max are not.** Inserted
  images add to the moments, deleted images subtract (an update is a
  delete of the pre-image plus an insert of the post-image, so a
  key-moving UPDATE transfers its row between groups for free). min and
  max only REFINE under inserts; a removal that may have removed the
  current extreme of ANY measure makes the group DIRTY, and dirty
  groups alone are recomputed exactly from the base table via a
  broadcast semi-join on their keys — the textbook affected-group
  recompute, sublinear because deletes touching a group extreme are
  the rare case and the semi-join scan prunes through the same
  predicate/partition machinery every other read uses. The dirty test
  is conservative-exact: a group is dirty iff it saw any removal and
  either has no stored extreme yet or the removed range touches the
  candidate extreme (``rm_min <= least(min, ins_min)`` /
  ``rm_max >= greatest(...)``) — equal values count as touching, so
  removing one of two copies of the minimum recomputes rather than
  guesses.
- **the recompute also heals float drift.** Incremental add/subtract
  on doubles accumulates rounding error that a full rebuild would not;
  every dirty-group recompute replaces ALL of the group's moments with
  exact values, so the drift horizon is bounded by mutation locality,
  and a deliberate ``refresh_agg_view(..., recompute_all=True)``
  rebuilds every group's moments while keeping the cursor discipline.
- **cursor and data commit in one rename.** The feed cursor
  (``feed_version``) lives in ``_meta.json`` INSIDE the committed MV
  version directory (``manifest._commit_version_in(meta=...)``), so a
  crash anywhere leaves either the old (version, cursor) pair or the
  new one — never a cursor that disagrees with the rows next to it.
  Replaying a refresh after a crash re-reads the same feed versions
  against the same MV version and produces the same result.
- **gaps fail loudly.** A cursor whose successor feed version was
  expired (``expire_change_feed``) raises a re-create error instead of
  silently desynchronizing. The dirty-group recompute additionally
  cross-checks its exact ``count(*)`` against the incrementally-merged
  count and raises on disagreement (a mutation that ran without
  ``change_feed=True`` is the usual culprit; the MV contract is that
  EVERY mutation on the source carries the feed).

Beyond the core moments, a view can carry (all maintained by the SAME
fold): **HLL count-distinct** measures (``distinct_cols`` — insert
unions are lossless so incremental == rebuilt exactly; removals ride
the dirty recompute, sketches cannot subtract), **fixed-bin histogram**
measures (``histogram_cols`` — frozen edges make integer bin counts
exactly subtractable, so deletes stay pure-incremental and
``read_agg_quantiles`` derives per-group quantiles from counts alone),
a **filter** (``where`` — out-of-view images drop before the fold, so
boundary-crossing updates net exactly their in-view side), and
**streaming appends** (per-lineage epoch cursors absorb newly sealed
``e<N>-<lineage>-`` sink files as insert deltas under the live
OPTIMIZE's newest-epoch exclusion — no feed required for append-only
flow; a compaction watermark above the cursor raises re-create).

The reference pipeline has no materialized-view story (its aggregates
are recomputed per window by the streaming job,
``/root/reference/spark_processing/data_agregator.py:74-95``); this is
the batch/lakehouse counterpart built on public IVM designs.

Single-maintenance-writer assumption, same as OPTIMIZE and mutations:
one ``create_agg_view``/``refresh_agg_view`` at a time per MV, and no
concurrent mutation on the source while a create/refresh runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from iot_sensor_data_pipeline_spark.sources.manifest import (
    _commit_version_in,
    _fs_for,
    _layout,
    _read_files,
    _read_json_file,
    _read_schema_for,
    _versions_in,
)
from iot_sensor_data_pipeline_spark.sources.mutations import (
    _OP,
    change_feed_versions,
    read_change_feed,
)

__all__ = [
    "create_agg_view",
    "refresh_agg_view",
    "read_agg_view",
    "read_agg_partials",
    "read_agg_quantiles",
]


def _norm_value_cols(value_col: str | Sequence[str]) -> list[str]:
    return [value_col] if isinstance(value_col, str) else list(value_col)


def _vsuffixes(value_cols: Sequence[str]) -> dict[str, str]:
    """{measure column: moment-name suffix}. A single measure keeps the
    original unsuffixed-family names (``n_v``/``sum_v``/...); several
    measures suffix by column name (``n_price``/``sum_price``/...)."""
    if len(value_cols) == 1:
        return {value_cols[0]: "v"}
    return {c: c for c in value_cols}


def _moment_names(
    value_cols: Sequence[str], distinct_cols: Sequence[str] = (),
    histogram_cols=None,
) -> list[str]:
    """MV moment columns, in storage order after the keys."""
    out = ["n_rows"]
    for s in _vsuffixes(value_cols).values():
        out += [f"n_{s}", f"sum_{s}", f"sumsq_{s}", f"min_{s}", f"max_{s}"]
    out += [f"hll_{c}" for c in distinct_cols]
    out += _hist_names(histogram_cols)
    return out


def _hist_spec(histogram_cols) -> dict[str, tuple[float, float, int]]:
    return {
        c: (float(lo), float(hi), int(n))
        for c, (lo, hi, n) in dict(histogram_cols or {}).items()
    }


def _hist_names(histogram_cols) -> list[str]:
    """Per-histogram bin-count columns: bin 0 = underflow (< lo), bins
    1..n = [lo + (i-1)w, lo + iw), bin n+1 = overflow (>= hi)."""
    out = []
    for c, (_lo, _hi, n) in _hist_spec(histogram_cols).items():
        out += [f"hist_{c}_{i}" for i in range(n + 2)]
    return out


def _bin_expr(c: str, lo: float, hi: float, n: int):
    """Bin index of a value (NULL for NULL values). The frozen edges
    are what make the counts exactly subtractable: a delete image bins
    to the same bin its insert did, forever."""
    v = F.col(c).cast("double")
    w = (hi - lo) / n
    return (
        F.when(v.isNull(), F.lit(None))
        .when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(n + 1))
        # least(): float rounding at the top edge must not escape bin n
        .otherwise(
            F.least(F.floor((v - F.lit(lo)) / F.lit(w)),
                    F.lit(n - 1)).cast("int") + F.lit(1)
        )
    )


def _list_files(
    spark: SparkSession, path: str, live_checkpoints: Sequence[str]
) -> tuple[list[str], list[str]]:
    """(partition columns, data files to absorb) — LISTING ONLY, no
    footer reads, so the steady-state refresh poll stays metadata-grain
    at any file count. ``live_checkpoints`` applies the SAME
    newest-epoch exclusion the live OPTIMIZE uses: a live lineage's
    newest epoch may still be uncommitted (a replay could rewrite it),
    so the MV leaves it for a later refresh, by which time a newer
    epoch has sealed it."""
    from iot_sensor_data_pipeline_spark.sources.manifest import (
        _live_epoch_exclude_fn,
    )

    try:
        part_cols, files_canon, _rel_of = _layout(spark, path)
    except ValueError as e:
        if "no parquet data files" in str(e):
            # a fully-deleted table (reachable via delete_where) has no
            # files to absorb — the refresh proceeds on the feed alone
            return [], []
        raise
    files = list(files_canon)
    if live_checkpoints:
        excl = _live_epoch_exclude_fn(spark, path, live_checkpoints)(
            [f.rsplit("/", 1)[-1] for f in files]
        )
        files = [f for f in files if f.rsplit("/", 1)[-1] not in excl]
        if not files:
            raise ValueError(
                f"create/refresh_agg_view: every data file under {path} "
                "belongs to a live lineage's newest (possibly "
                "uncommitted) epoch — nothing absorbable yet"
            )
    return part_cols, files


def _file_scan(
    spark: SparkSession, path: str, live_checkpoints: Sequence[str]
) -> tuple[list[str], StructType]:
    """(data files to absorb, read schema) under the mutation module's
    read rules (union schema over the files' footers, partition columns
    as verbatim strings) — the MV must aggregate exactly the relation
    the mutations mutate, or the feed's row images would not reconcile
    with the scan. Pays a footer pass over the listed files; callers
    that only need the LISTING (epoch detection, the noop poll) use
    :func:`_list_files` instead."""
    part_cols, files = _list_files(spark, path, live_checkpoints)
    if not files:
        return [], None
    _data, read_schema = _read_schema_for(spark, path, files, part_cols)
    return files, read_schema


def _epoch_cursors(files: Sequence[str]) -> dict[str, int]:
    """{lineage: max epoch} over epoch-named files (``e<N>-<lineage>-``,
    the sink's replay-idempotent naming) — the append-absorption cursor
    companion to the feed cursor."""
    from iot_sensor_data_pipeline_spark.sources.sinks import (
        parse_epoch_file,
    )

    out: dict[str, int] = {}
    for f in files:
        parsed = parse_epoch_file(f.rsplit("/", 1)[-1])
        if parsed is not None:
            e, lin = parsed
            out[lin] = max(out.get(lin, -1), e)
    return out


def _compaction_watermarks(spark: SparkSession, path: str) -> dict[str, int]:
    """{lineage: compacted_through} from the sinks' per-lineage
    watermark sidecars — the epochs an OPTIMIZE (or a mutation rewrite)
    has absorbed into epoch-less compacted files. An MV whose epoch
    cursor is BELOW a lineage's watermark can no longer reconstruct the
    missed epochs from file names and must re-baseline."""
    fs, root, jvm = _fs_for(spark, path)
    if not fs.exists(root):
        return {}
    out: dict[str, int] = {}
    prefix, suffix = "_compacted_through_", ".json"
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if (st.isFile() and name.startswith(prefix)
                and name.endswith(suffix)):
            lin = name[len(prefix):-len(suffix)]
            out[lin] = int(
                _read_json_file(fs, jvm, st.getPath())["compacted_through"]
            )
    return out


def _moment_aggs(
    value_cols: Sequence[str], distinct_cols: Sequence[str] = (),
    histogram_cols=None,
) -> list:
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, s in _vsuffixes(value_cols).items():
        v = F.col(c).cast("double")
        aggs += [
            F.count(v).alias(f"n_{s}"),
            F.coalesce(F.sum(v), F.lit(0.0)).alias(f"sum_{s}"),
            F.coalesce(F.sum(v * v), F.lit(0.0)).alias(f"sumsq_{s}"),
            F.min(v).alias(f"min_{s}"),
            F.max(v).alias(f"max_{s}"),
        ]
    # Datasketches HLL: register-state max is lossless under union, so
    # sketch-of-partials == sketch-of-union EXACTLY (same lgConfigK)
    aggs += [
        F.hll_sketch_agg(F.col(c)).alias(f"hll_{c}") for c in distinct_cols
    ]
    for c, (lo, hi, n) in _hist_spec(histogram_cols).items():
        b = _bin_expr(c, lo, hi, n)
        aggs += [
            F.count(F.when(b == i, 1)).alias(f"hist_{c}_{i}")
            for i in range(n + 2)
        ]
    return aggs


def _mv_meta(spark: SparkSession, mv_path: str) -> tuple[int, dict]:
    """(newest committed version, its _meta.json) — raises when the MV
    does not exist or a version lacks its sidecar (not an MV dir)."""
    versions = _versions_in(spark, mv_path)
    if not versions:
        raise ValueError(
            f"no materialized view under {mv_path} — create_agg_view first"
        )
    fs, _root, jvm = _fs_for(spark, mv_path)
    p = jvm.org.apache.hadoop.fs.Path(
        f"{mv_path}/v{versions[-1]}/_meta.json"
    )
    if not fs.exists(p):
        raise ValueError(
            f"{mv_path}/v{versions[-1]} has no _meta.json — not a "
            "materialized-view directory"
        )
    return versions[-1], _read_json_file(fs, jvm, p)


def _meta_value_cols(meta: dict) -> list[str]:
    return list(meta.get("value_cols") or [meta["value_col"]])


def _nullsafe_cond(left, right, keys: Sequence[str]):
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else (cond & c)
    return cond


def _exact_groups(
    spark: SparkSession,
    src_path: str,
    keys: Sequence[str],
    value_cols: str | Sequence[str],
    dirty_keys: DataFrame,
    broadcast: bool,
    live_checkpoints: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
    histogram_cols=None,
    where: str | None = None,
    listing: tuple[Sequence[str], Sequence[str]] | None = None,
) -> DataFrame:
    """Exact moments for the dirty groups only: a semi-join of the base
    table against the dirty key set, then one GROUP BY. Column-pruned
    on purpose — the scan reads ONLY the key + measure columns (parquet
    columnar), and when a key IS a partition column the broadcast
    semi-join's dynamic partition pruning restricts the scan to the
    dirty partitions. ``broadcast=False`` for a mutation that dirtied
    millions of groups: the semi-join degrades to a shuffle instead of
    a driver/executor OOM on the broadcast build.

    ``listing`` is the caller's already-taken ``(part_cols, files)``
    snapshot (ADVICE r12): the refresh passes ITS OWN listing so this
    scan covers exactly the files the incremental fold saw — a second
    listing here would race an epoch sealing between the two, putting
    rows in the exact scan the fold never absorbed and failing the
    recount cross-check spuriously. Absent a listing (direct callers),
    one is taken under the same live-lineage newest-epoch exclusion."""
    value_cols = _norm_value_cols(value_cols)
    if listing is not None:
        part_cols, files = list(listing[0]), list(listing[1])
        read_schema = (
            _read_schema_for(spark, src_path, files, part_cols)[1]
            if files else None
        )
    else:
        files, read_schema = _file_scan(spark, src_path, live_checkpoints)
    if not files:
        raise ValueError(
            "refresh_agg_view: dirty groups need an exact recompute but "
            "the table has no data files — the change feed and the MV "
            "are out of sync; re-create the view"
        )
    extra = [
        c for c in [*distinct_cols, *_hist_spec(histogram_cols)]
        if c not in value_cols
    ]
    base = _read_files(spark, src_path, files, read_schema)
    if where is not None:
        base = base.where(
            F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
        )
    base = base.select(*keys, *value_cols, *dict.fromkeys(extra))
    dk = (F.broadcast(dirty_keys) if broadcast else dirty_keys).alias("k")
    b = base.alias("b")
    return (
        b.join(dk, _nullsafe_cond(b, dk, keys), "left_semi")
        .groupBy(*keys)
        .agg(*_moment_aggs(value_cols, distinct_cols, histogram_cols))
    )


def read_agg_partials(spark: SparkSession, mv_path: str) -> DataFrame:
    """The stored per-group moment rows of the newest MV version, read
    under the meta sidecar's explicit schema (an MV whose every group
    died commits a zero-row version — Spark cannot infer a schema from
    an empty directory, the sidecar can)."""
    v, meta = _mv_meta(spark, mv_path)
    schema = StructType.fromJson(meta["schema"])
    return spark.read.schema(schema).parquet(f"{mv_path}/v{v}")


def create_agg_view(
    spark: SparkSession,
    src_path: str,
    mv_path: str,
    keys: Sequence[str],
    value_col: str | Sequence[str],
    keep_versions: int = 2,
    single_file: bool = True,
    live_checkpoints: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
    histogram_cols=None,
    where: str | None = None,
) -> dict:
    """Full build: one ``GROUP BY`` scan of the source table, committed
    as MV ``v1`` with the feed cursor taken BEFORE the scan — then
    VERIFIED unchanged after the commit (ADVICE r12): a feed version
    committing mid-scan is partially visible to the scan and
    re-applying it would NOT always heal (a delete re-application
    raises or recomputes via the dirty path, but an insert-only version
    dirties no group and would silently double-count), so a moved
    cursor deletes the just-committed view and raises — the documented
    single-writer discipline makes the case unreachable in normal
    operation; this makes violating it loud instead of corrupting.

    ``value_col`` may be ONE column name or a LIST — several measures
    share the MV and every later refresh maintains all of them in one
    feed fold. ``single_file=False`` for key spaces too large for one
    driver-read file (a per-user MV); the aggregate write then stays
    distributed.

    STREAMING APPENDS: the MV also follows epoch-idempotent sink
    batches (``sinks.parquet_batch_sink`` with a checkpoint) — the
    build records per-lineage epoch cursors and every refresh absorbs
    NEWLY SEALED epochs as insert deltas, no feed required. On a table
    with LIVE streams pass their checkpoints: the newest (possibly
    uncommitted) epoch of each live lineage is excluded from the scan
    exactly as a live OPTIMIZE excludes it, and absorbs once sealed.

    ``distinct_cols`` adds APPROX-DISTINCT measures: a Datasketches HLL
    sketch per (group, column), stored as a binary moment — inserts
    union in (register-state max is lossless, so an incrementally
    maintained sketch equals a rebuilt one EXACTLY), any removal of a
    non-NULL value makes the group dirty (sketches cannot subtract) and
    the group's sketch recomputes with the rest of its moments;
    ``read_agg_view`` derives ``distinct_<col>`` estimates and unions
    sketches for coarser grains.

    ``histogram_cols`` ({column: (lo, hi, n_bins)}) adds FIXED-BIN
    histogram measures: n_bins+2 integer bin counts per group
    (underflow / in-range / overflow), frozen edges. Integer counts
    subtract EXACTLY, so histograms stay on the pure incremental path
    even under deletes — no dirty recompute, no drift — and
    ``read_agg_quantiles`` answers per-group approximate quantiles
    from the counts alone (values outside [lo, hi) clamp to the
    boundary, the standard fixed-histogram caveat).

    ``where`` (an SQL predicate string, persisted in the MV's meta)
    makes the view FILTERED: it aggregates ``WHERE where`` only. The
    delta fold needs no special casing — row images failing the
    predicate are simply not in the view, so an UPDATE that moves a
    row across the boundary contributes only its in-view image (pre-in
    post-out nets -1, pre-out post-in nets +1), appends filter before
    absorbing, and the dirty recompute scans ``WHERE where``. NULL
    predicate = not in view (standard WHERE semantics).

    Returns ``{"status", "n_groups", "feed_version",
    "epoch_cursors"}``."""
    keys = list(keys)
    value_cols = _norm_value_cols(value_col)
    distinct_cols = list(distinct_cols)
    histogram_cols = _hist_spec(histogram_cols)
    for c, (lo, hi, n) in histogram_cols.items():
        if not (lo < hi) or n < 1:
            raise ValueError(
                f"create_agg_view: histogram_cols[{c!r}] needs lo < hi "
                f"and n_bins >= 1, got ({lo}, {hi}, {n})"
            )
    if not keys:
        raise ValueError("create_agg_view: need at least one key column")
    if not value_cols:
        raise ValueError("create_agg_view: need at least one value column")
    if len(set(value_cols)) != len(value_cols):
        raise ValueError(
            f"create_agg_view: duplicate value columns in {value_cols}"
        )
    if len(set(distinct_cols)) != len(distinct_cols):
        raise ValueError(
            f"create_agg_view: duplicate distinct columns in {distinct_cols}"
        )
    reserved = set(_moment_names(value_cols, distinct_cols, histogram_cols))
    bad = [k for k in keys if k in reserved]
    if bad:
        raise ValueError(
            f"create_agg_view: key columns {bad} collide with the MV's "
            f"generated moment columns {sorted(reserved)} — alias them "
            "first"
        )
    overlap = [
        c for c in [*value_cols, *distinct_cols, *histogram_cols]
        if c in keys
    ]
    if overlap:
        raise ValueError(
            f"create_agg_view: value columns {overlap} are also keys"
        )
    if _versions_in(spark, mv_path):
        raise ValueError(
            f"materialized view already exists under {mv_path} — "
            "refresh_agg_view maintains it; delete the directory to "
            "rebuild from scratch"
        )
    feed = change_feed_versions(spark, src_path)
    cursor = feed[-1] if feed else 0
    files, read_schema = _file_scan(spark, src_path, live_checkpoints)
    if not files:
        raise ValueError(
            f"create_agg_view: no parquet data files under {src_path}"
        )
    # epoch cursors: max scanned epoch per lineage, floored by any
    # compaction watermark (epochs already absorbed into epoch-less
    # compacted files were read by THIS full scan — a later refresh
    # must not treat the watermark as missed history)
    cursors = _epoch_cursors(files)
    for lin, wm in _compaction_watermarks(spark, src_path).items():
        cursors[lin] = max(cursors.get(lin, -1), wm)
    base = _read_files(spark, src_path, files, read_schema)
    missing = [
        c for c in [*keys, *value_cols, *distinct_cols, *histogram_cols]
        if c not in base.columns
    ]
    if missing:
        raise ValueError(
            f"create_agg_view: source table lacks columns {missing}"
        )
    if where is not None:
        base = base.where(F.coalesce(F.expr(where).cast("boolean"),
                                     F.lit(False)))
    partials = base.groupBy(*keys).agg(
        *_moment_aggs(value_cols, distinct_cols, histogram_cols)
    )
    _commit_version_in(
        spark, mv_path, partials,
        keep_versions=keep_versions, single_file=single_file,
        meta={
            "keys": keys,
            "value_cols": value_cols,
            "distinct_cols": distinct_cols,
            "histogram_cols": {
                c: list(spec) for c, spec in histogram_cols.items()
            },
            "where": where,
            "feed_version": cursor,
            "epoch_cursors": cursors,
            "schema": partials.schema.jsonValue(),
        },
    )
    # build-integrity check (ADVICE r12): the scan executed inside the
    # commit above — if a feed version landed since the cursor was
    # taken, the scan may have seen that mutation PARTIALLY, and an
    # insert-only version re-applied by refresh would double-count
    # (no dirty group to heal through). Delete the view, fail loudly.
    after = change_feed_versions(spark, src_path)
    if after and after[-1] > cursor:
        fs, root, _jvm = _fs_for(spark, mv_path)
        fs.delete(root, True)
        raise RuntimeError(
            f"create_agg_view: feed version(s) "
            f"{[v for v in after if v > cursor]} committed on {src_path} "
            "DURING the build scan — the view may have seen them "
            "partially and was deleted; rebuild under the single-"
            "maintenance-writer discipline (no concurrent mutation "
            "while a create runs)"
        )
    # count from the committed MV (group-grain), not a second base scan
    n_groups = read_agg_partials(spark, mv_path).count()
    return {"status": "created", "n_groups": n_groups,
            "feed_version": cursor, "epoch_cursors": cursors}


def refresh_agg_view(
    spark: SparkSession,
    src_path: str,
    mv_path: str,
    keep_versions: int = 2,
    single_file: bool = True,
    recompute_all: bool = False,
    live_checkpoints: Sequence[str] = (),
) -> dict:
    """Fold the source's unapplied change-feed versions AND its newly
    sealed epoch-sink appends into the MV, committing the result as the
    next MV version (both cursors ride the same rename — see module
    docstring). Appends are pure insert deltas discovered from the
    sinks' replay-idempotent ``e<N>-<lineage>-`` file names, so a
    streaming table needs no change feed at all for the MV to follow
    it; pass the live streams' checkpoints so the newest (possibly
    uncommitted) epoch waits for a later refresh, exactly as a live
    OPTIMIZE would. Nothing new on either channel -> no-op, no version
    minted. A compaction watermark ABOVE the MV's epoch cursor raises
    the re-create error: the missed epochs were absorbed into
    epoch-less compacted files and are no longer enumerable.

    Returns ``{"status", "applied_versions", "n_epoch_files_absorbed",
    "n_groups", "n_dirty_recomputed", "feed_version",
    "epoch_cursors"}``."""
    _v, meta = _mv_meta(spark, mv_path)
    keys: list[str] = list(meta["keys"])
    value_cols = _meta_value_cols(meta)
    distinct_cols = list(meta.get("distinct_cols") or ())
    histogram_cols = _hist_spec(meta.get("histogram_cols"))
    where = meta.get("where")
    suf = list(_vsuffixes(value_cols).items())
    cursor: int = int(meta["feed_version"])
    epoch_cursors = {
        k: int(v) for k, v in (meta.get("epoch_cursors") or {}).items()
    }
    all_versions = change_feed_versions(spark, src_path)
    # continuity first, even when there is nothing new: a cursor below
    # the oldest retained version minus one means the MV slept through
    # an expiry that removed versions it never saw
    if all_versions and cursor + 1 < all_versions[0] and cursor < all_versions[-1]:
        raise ValueError(
            f"change feed gap: the MV's cursor is {cursor} but the "
            f"oldest retained feed version is {all_versions[0]} "
            "(expire_change_feed ran past it) — re-create the view"
        )
    for lin, wm in _compaction_watermarks(spark, src_path).items():
        if wm > epoch_cursors.get(lin, -1):
            raise ValueError(
                f"epoch gap: lineage {lin}'s epochs through {wm} were "
                "compacted into epoch-less files but the MV's cursor is "
                f"{epoch_cursors.get(lin, -1)} — the missed appends are "
                "no longer enumerable by epoch; re-create the view "
                "(refresh BEFORE optimizing, or exclude live lineages' "
                "newest epochs on both sides)"
            )
    new_versions = [v for v in all_versions if v > cursor]
    # LISTING ONLY here: the steady-state poll must not pay a footer
    # pass; the union read schema resolves below over exactly the new
    # epoch files being absorbed
    part_cols, files = _list_files(spark, src_path, live_checkpoints)
    from iot_sensor_data_pipeline_spark.sources.sinks import (
        parse_epoch_file,
    )

    new_epoch_files = []
    new_cursors = dict(epoch_cursors)
    for f in files:
        parsed = parse_epoch_file(f.rsplit("/", 1)[-1])
        if parsed is None:
            continue
        e, lin = parsed
        if e > epoch_cursors.get(lin, -1):
            new_epoch_files.append(f)
            new_cursors[lin] = max(new_cursors.get(lin, -1), e)
    if not new_versions and not new_epoch_files:
        return {"status": "noop", "applied_versions": [],
                "n_epoch_files_absorbed": 0, "n_groups": None,
                "n_dirty_recomputed": 0, "feed_version": cursor,
                "epoch_cursors": epoch_cursors}
    need = [*keys, *value_cols, *dict.fromkeys(
        c for c in [*distinct_cols, *histogram_cols]
        if c not in value_cols
    )]

    def _in_view(df: DataFrame) -> DataFrame:
        # only in-view images contribute: a boundary-crossing UPDATE
        # keeps exactly its in-view side (pre-in post-out nets -1).
        # Applied BEFORE projection — the predicate may use columns
        # the MV does not keep.
        if where is None:
            return df
        return df.where(
            F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
        )

    parts = []
    if new_versions:
        parts.append(
            _in_view(read_change_feed(spark, src_path, since_version=cursor))
            .select(*need, F.col(_OP))
        )
    if new_epoch_files:
        _data, append_schema = _read_schema_for(
            spark, src_path, new_epoch_files, part_cols
        )
        parts.append(
            _in_view(
                _read_files(spark, src_path, new_epoch_files, append_schema)
            )
            .select(*need)
            .withColumn(_OP, F.lit("insert"))
        )
    feed = parts[0]
    for p in parts[1:]:
        feed = feed.unionByName(p)

    sign = F.when(
        F.col(_OP).isin("insert", "update_post"), F.lit(1)
    ).otherwise(F.lit(-1))
    # signed delta moments per group. sum() skips NULL terms, so the
    # value-dependent deltas self-restrict to non-NULL images; the
    # row-count delta must not (a NULL-valued row still counts).
    delta_aggs = [F.sum(sign).alias("d_n_rows")]
    for c, s in suf:
        v = F.col(c).cast("double")
        delta_aggs += [
            F.coalesce(
                F.sum(F.when(v.isNotNull(), sign)), F.lit(0)
            ).alias(f"d_n_{s}"),
            F.coalesce(F.sum(sign * v), F.lit(0.0)).alias(f"d_sum_{s}"),
            F.coalesce(F.sum(sign * v * v), F.lit(0.0)).alias(f"d_sumsq_{s}"),
            F.min(F.when(sign > 0, v)).alias(f"ins_min_{s}"),
            F.max(F.when(sign > 0, v)).alias(f"ins_max_{s}"),
            F.min(F.when(sign < 0, v)).alias(f"rm_min_{s}"),
            F.max(F.when(sign < 0, v)).alias(f"rm_max_{s}"),
        ]
    for c in distinct_cols:
        delta_aggs += [
            # insert images union into the stored sketch; ANY non-NULL
            # removal dirties the group (sketches cannot subtract)
            F.hll_sketch_agg(
                F.when(sign > 0, F.col(c))
            ).alias(f"d_hll_{c}"),
            F.max(
                F.when((sign < 0) & F.col(c).isNotNull(), 1).otherwise(0)
            ).alias(f"rm_any_{c}"),
        ]
    for c, (lo, hi, n) in histogram_cols.items():
        b = _bin_expr(c, lo, hi, n)
        delta_aggs += [
            # integer bin counts subtract exactly — pure incremental
            # even under deletes, never a dirty trigger
            F.coalesce(
                F.sum(F.when(b == i, sign)), F.lit(0)
            ).alias(f"d_hist_{c}_{i}")
            for i in range(n + 2)
        ]
    delta = feed.groupBy(*keys).agg(*delta_aggs)

    mv = read_agg_partials(spark, mv_path).alias("m")
    d = delta.alias("d")
    # full outer: groups only in the MV pass through, groups only in
    # the delta are born, shared groups merge. eqNullSafe because a
    # NULL key value is a legitimate group.
    j = mv.join(d, _nullsafe_cond(mv, d, keys), "full_outer")

    n_rows_new = F.coalesce(mv["n_rows"], F.lit(0)) + F.coalesce(
        d["d_n_rows"], F.lit(0)
    )
    n_new = {
        s: F.coalesce(mv[f"n_{s}"], F.lit(0))
        + F.coalesce(d[f"d_n_{s}"], F.lit(0))
        for _c, s in suf
    }
    # a negative merged count means the feed and the MV disagree about
    # history (double-applied feed, hand-edited MV, or a mutation that
    # ran without change_feed=True) — fail the refresh, loudly, inside
    # the projection (raise_error under when, the apply_cdc/AUC
    # discipline — no extra validation job)
    hist_new = {
        name: F.coalesce(mv[name], F.lit(0))
        + F.coalesce(d[f"d_{name}"], F.lit(0))
        for name in _hist_names(histogram_cols)
    }
    all_ok = (n_rows_new >= 0)
    for s in n_new:
        all_ok = all_ok & (n_new[s] >= 0)
    for expr in hist_new.values():
        all_ok = all_ok & (expr >= 0)
    n_rows_guarded = F.when(all_ok, n_rows_new).otherwise(
        F.raise_error(F.concat(
            F.lit("refresh_agg_view: negative merged count for group ("),
            F.concat_ws(
                ", ",
                *[F.coalesce(F.coalesce(mv[k], d[k]).cast("string"),
                             F.lit("NULL")) for k in keys],
            ),
            F.lit(") — the change feed and the MV are out of sync; "
                  "re-create the view"),
        ))
    )
    alive = n_rows_new > 0
    # per-measure merge + the combined dirty flag: a removal touching
    # ANY measure's candidate extreme recomputes the whole group (one
    # recompute replaces every measure's moments anyway)
    dirty = F.lit(recompute_all)
    measure_cols: list = []
    for _c, s in suf:
        cand_min = F.least(mv[f"min_{s}"], d[f"ins_min_{s}"])
        cand_max = F.greatest(mv[f"max_{s}"], d[f"ins_max_{s}"])
        has = n_new[s] > 0
        dirty = dirty | (
            d[f"rm_min_{s}"].isNotNull()
            & has
            & (
                mv[f"min_{s}"].isNull()
                | (d[f"rm_min_{s}"] <= cand_min)
                | (d[f"rm_max_{s}"] >= cand_max)
            )
        )
        # canonical storage: a group alive with zero non-NULL values
        # holds EXACT zero sums (incremental subtraction would leave
        # float epsilon) and NULL extremes
        measure_cols += [
            n_new[s].alias(f"n_{s}"),
            F.when(
                has,
                F.coalesce(mv[f"sum_{s}"], F.lit(0.0))
                + F.coalesce(d[f"d_sum_{s}"], F.lit(0.0)),
            ).otherwise(F.lit(0.0)).alias(f"sum_{s}"),
            F.when(
                has,
                F.coalesce(mv[f"sumsq_{s}"], F.lit(0.0))
                + F.coalesce(d[f"d_sumsq_{s}"], F.lit(0.0)),
            ).otherwise(F.lit(0.0)).alias(f"sumsq_{s}"),
            F.when(has, cand_min).alias(f"min_{s}"),
            F.when(has, cand_max).alias(f"max_{s}"),
        ]
    for c in distinct_cols:
        dirty = dirty | (F.coalesce(d[f"rm_any_{c}"], F.lit(0)) == 1)
        m_h, d_h = mv[f"hll_{c}"], d[f"d_hll_{c}"]
        measure_cols.append(
            F.when(m_h.isNull(), d_h)
            .when(d_h.isNull(), m_h)
            .otherwise(F.hll_union(m_h, d_h))
            .alias(f"hll_{c}")
        )
    measure_cols += [
        expr.alias(name) for name, expr in hist_new.items()
    ]
    merged = j.select(
        *[F.coalesce(mv[k], d[k]).alias(k) for k in keys],
        n_rows_guarded.alias("n_rows"),
        *measure_cols,
        (dirty & alive).alias("__dirty"),
    ).where(alive).persist()
    try:
        schema = StructType.fromJson(meta["schema"])
        cols = schema.fieldNames()
        n_dirty = merged.where(F.col("__dirty")).count()
        if n_dirty:
            dirty_keys = merged.where(F.col("__dirty")).select(*keys)
            exact = _exact_groups(
                spark, src_path, keys, value_cols, dirty_keys,
                broadcast=n_dirty <= 1_000_000,
                live_checkpoints=live_checkpoints,
                distinct_cols=distinct_cols,
                histogram_cols=histogram_cols,
                where=where,
                # the refresh's OWN listing: the recount compares
                # against exactly the files the fold saw (ADVICE r12)
                listing=(part_cols, files),
            ).alias("x")
            dm = merged.where(F.col("__dirty")).alias("dm")
            # exact recount must agree with the incrementally-merged
            # count — disagreement means a mutation skipped the feed
            # (NULL exact count = alive dirty group with no base rows,
            # the same desync)
            recount = F.when(
                dm["n_rows"] == exact["n_rows"], exact["n_rows"]
            ).otherwise(
                F.raise_error(F.lit(
                    "refresh_agg_view: dirty-group recount disagrees "
                    "with the change feed (a mutation ran without "
                    "change_feed=True?) — re-create the view"
                ))
            )
            moment_cols = [
                c for c in _moment_names(
                    value_cols, distinct_cols, histogram_cols
                )
                if c != "n_rows"
            ]
            recomputed = (
                dm.join(exact, _nullsafe_cond(dm, exact, keys), "left")
                .select(
                    *[dm[k].alias(k) for k in keys],
                    recount.alias("n_rows"),
                    *[exact[c].alias(c) for c in moment_cols],
                )
            )
            out = (
                merged.where(~F.col("__dirty")).select(*cols)
                .unionByName(recomputed.select(*cols))
            )
        else:
            out = merged.select(*cols)
        out = out.select(
            *[F.col(c).cast(schema[c].dataType) for c in cols]
        ).persist()
        new_feed_cursor = new_versions[-1] if new_versions else cursor
        try:
            n_groups = out.count()
            _commit_version_in(
                spark, mv_path, out,
                keep_versions=keep_versions, single_file=single_file,
                meta={**meta, "feed_version": new_feed_cursor,
                      "epoch_cursors": new_cursors},
            )
        finally:
            out.unpersist()
    finally:
        merged.unpersist()
    return {
        "status": "refreshed",
        "applied_versions": new_versions,
        "n_epoch_files_absorbed": len(new_epoch_files),
        "n_groups": n_groups,
        "n_dirty_recomputed": n_dirty,
        "feed_version": new_feed_cursor,
        "epoch_cursors": new_cursors,
    }


def read_agg_view(
    spark: SparkSession,
    mv_path: str,
    group_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Final aggregates from the stored moments — at the MV's own grain
    (default) or any COARSER ``group_keys`` subset, answered by merging
    partial rows (``operators.sketches.merge_aggregates`` discipline:
    exact n/sum/min/max, avg and population stddev derived from merged
    moments, NULL when the group has no non-NULL values; one family per
    measure column, suffixed by column name when the MV carries several
    measures). Never touches the base table."""
    _ver, meta = _mv_meta(spark, mv_path)
    mv_keys = list(meta["keys"])
    value_cols = _meta_value_cols(meta)
    distinct_cols = list(meta.get("distinct_cols") or ())
    histogram_cols = _hist_spec(meta.get("histogram_cols"))
    suffixes = list(_vsuffixes(value_cols).values())
    partials = read_agg_partials(spark, mv_path)
    if group_keys is None:
        merged = partials
        out_keys = mv_keys
    else:
        out_keys = list(group_keys)
        missing = [k for k in out_keys if k not in mv_keys]
        if missing:
            raise ValueError(
                f"read_agg_view: {missing} are not MV key columns "
                f"({mv_keys})"
            )
        aggs = [F.sum("n_rows").alias("n_rows")]
        for s in suffixes:
            aggs += [
                F.sum(f"n_{s}").alias(f"n_{s}"),
                F.sum(f"sum_{s}").alias(f"sum_{s}"),
                F.sum(f"sumsq_{s}").alias(f"sumsq_{s}"),
                F.min(f"min_{s}").alias(f"min_{s}"),
                F.max(f"max_{s}").alias(f"max_{s}"),
            ]
        aggs += [
            F.hll_union_agg(f"hll_{c}").alias(f"hll_{c}")
            for c in distinct_cols
        ]
        aggs += [
            F.sum(name).alias(name)
            for name in _hist_names(histogram_cols)
        ]
        merged = partials.groupBy(*out_keys).agg(*aggs)
    derived: list = []
    for s in suffixes:
        mean = F.try_divide(F.col(f"sum_{s}"), F.col(f"n_{s}"))
        # clamp: float cancellation can push E[x^2]-E[x]^2 a hair
        # negative
        var = F.greatest(
            F.try_divide(F.col(f"sumsq_{s}"), F.col(f"n_{s}"))
            - mean * mean,
            F.lit(0.0),
        )
        has = F.col(f"n_{s}") > 0
        derived += [
            F.col(f"n_{s}").alias(f"n_{s}"),
            F.when(has, F.col(f"sum_{s}")).alias(f"sum_{s}"),
            F.col(f"min_{s}").alias(f"min_{s}"),
            F.col(f"max_{s}").alias(f"max_{s}"),
            F.when(has, mean).alias(f"avg_{s}"),
            F.when(has, F.sqrt(var)).alias(f"stddev_pop_{s}"),
        ]
    derived += [
        F.hll_sketch_estimate(F.col(f"hll_{c}")).alias(f"distinct_{c}")
        for c in distinct_cols
    ]
    derived += [
        F.array(
            *[F.col(f"hist_{c}_{i}") for i in range(n + 2)]
        ).alias(f"hist_{c}")
        for c, (_lo, _hi, n) in histogram_cols.items()
    ]
    return merged.select(*out_keys, "n_rows", *derived)


def read_agg_quantiles(
    spark: SparkSession,
    mv_path: str,
    col: str,
    qs: Sequence[float],
    group_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Per-group approximate quantiles of a histogram measure, derived
    from the stored bin counts alone (no base-table access, no
    percentile shuffle): linear interpolation inside the covering bin,
    with under/overflow mass clamped to the lo/hi boundary — the
    standard fixed-histogram estimate, accurate to one bin width for
    in-range data. Returns ``(group keys..., q, <col>_q)``; groups
    whose every value is NULL produce no rows."""
    from pyspark.sql import Window

    for q in qs:
        if not 0.0 <= float(q) <= 1.0:
            raise ValueError(f"read_agg_quantiles: q={q} outside [0, 1]")
    _ver, meta = _mv_meta(spark, mv_path)
    spec = _hist_spec(meta.get("histogram_cols"))
    if col not in spec:
        raise ValueError(
            f"read_agg_quantiles: {col!r} is not a histogram measure "
            f"of this MV ({sorted(spec)})"
        )
    lo, hi, n = spec[col]
    w = (hi - lo) / n
    base = read_agg_view(spark, mv_path, group_keys)
    out_keys = (
        list(group_keys) if group_keys is not None else list(meta["keys"])
    )
    arr = base.select(
        *out_keys,
        F.posexplode(F.col(f"hist_{col}")).alias("__bin", "__cnt"),
    )
    gw = Window.partitionBy(*out_keys)
    cum = (
        arr.withColumn(
            "__cum", F.sum("__cnt").over(gw.orderBy("__bin"))
        )
        .withColumn("__total", F.sum("__cnt").over(gw))
        .where(F.col("__total") > 0)
        .withColumn(
            "q", F.explode(F.array(*[F.lit(float(q)) for q in qs]))
        )
        .withColumn("__rank", F.col("q") * F.col("__total"))
    )
    hit = (
        cum.where((F.col("__cnt") > 0) & (F.col("__cum") >= F.col("__rank")))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*out_keys, "q").orderBy("__bin")
            ),
        )
        .where(F.col("__rn") == 1)
    )
    b = F.col("__bin")
    left = (
        F.when(b == 0, F.lit(lo))
        .when(b == n + 1, F.lit(hi))
        .otherwise(F.lit(lo) + (b - 1).cast("double") * F.lit(w))
    )
    width = F.when((b == 0) | (b == n + 1), F.lit(0.0)).otherwise(F.lit(w))
    inner = F.least(
        F.greatest(
            (F.col("__rank") - (F.col("__cum") - F.col("__cnt")))
            / F.col("__cnt"),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    return hit.select(
        *out_keys, "q", (left + width * inner).alias(f"{col}_q")
    )
