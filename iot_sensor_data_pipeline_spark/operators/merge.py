"""MERGE / upsert / SCD2 emulation on plain parquet tables.

Without a transactional table format (Delta/Iceberg jars are not in
this environment), MERGE INTO is emulated with the standard anti-join
+ union + window idiom — the same logical result, full-rewrite
physical cost (documented; with Delta these operators map 1:1 onto
``MERGE INTO``).

Scale notes: both operators are one shuffle on the key columns. For
partitioned tables, restrict the rewrite to the partitions the updates
touch (dynamic partition overwrite) — the helper accepts a pre-filtered
``current`` for exactly that reason.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert_snapshot(
    current: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Last-writer-wins upsert: rows of ``updates`` replace same-key
    rows of ``current``; new keys append. (MERGE WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT.)"""
    keys = list(keys)
    survivors = current.join(updates.select(*keys).distinct(), keys, "left_anti")
    return survivors.unionByName(updates)


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    end_col: str = "valid_to",
    start_col: str = "valid_from",
    current_flag: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2: close out current rows whose
    key appears in ``updates`` (valid_to = update ts) and append the
    new versions as current.

    ``history`` schema: business columns + valid_from/valid_to/
    is_current. ``updates``: business columns + ts_col (event time of
    the change). Multiple updates per key in one batch are sequenced by
    ts (each closes the previous).
    """
    keys = list(keys)

    # sequence updates per key: each row's valid_to is the next row's ts
    w = Window.partitionBy(*keys).orderBy(ts_col)
    seq = (
        updates.withColumn(start_col, F.col(ts_col))
        .withColumn(end_col, F.lead(ts_col).over(w))
        .withColumn(current_flag, F.col(end_col).isNull())
        .drop(ts_col)
    )
    first_update = updates.groupBy(*keys).agg(F.min(ts_col).alias("__first_ts"))

    touched = history.join(first_update, keys, "inner")
    untouched = history.join(first_update, keys, "left_anti")

    closed = (
        touched.withColumn(
            end_col,
            F.when(F.col(current_flag), F.col("__first_ts")).otherwise(F.col(end_col)),
        )
        .withColumn(current_flag, F.lit(False))
        .drop("__first_ts")
    )
    return untouched.unionByName(closed).unionByName(seq)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Row-level diff of two snapshot versions of the same table:
    (keys..., change) with change in added / removed / changed (and
    unchanged when requested) — the audit primitive for incremental
    pipelines (what did this batch actually do?) and corpus versioning
    (which documents changed between crawl N and N+1?).

    Semantics: a key only in ``new`` is added; only in ``old`` is
    removed; in both, rows differing on any compare column (null-safe
    ``<=>`` comparison, so NULL->value and value->NULL count as
    changes) are changed. ``compare_cols`` defaults to all shared
    non-key columns.

    At scale this is ONE full-outer shuffle join on the keys —
    co-located (zero shuffle) when both snapshot versions are stored
    bucketed on the keys (``DataFrameWriter.bucketBy``), which is exactly how
    a recurring diff job should persist them.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must name at least one column")
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in keys]
    compare_cols = list(compare_cols)
    # non-null presence markers survive the outer join even when key
    # columns are legitimately NULL on a matched side; columns are
    # prefix-renamed (not alias-qualified) so same-lineage snapshots —
    # the common case: both versions derived from one source — don't
    # trip the ambiguous-self-join analyzer
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in [*keys, *compare_cols]],
        F.lit(1).alias("__op"),
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in [*keys, *compare_cols]],
        F.lit(1).alias("__np"),
    )
    cond = [F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}")) for k in keys]
    # join on null-safe key equality so NULL keys pair up instead of
    # producing phantom added+removed rows
    j = o.join(n, reduce(lambda a, b: a & b, cond), "full_outer")
    old_present = F.col("__op").isNotNull()
    new_present = F.col("__np").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (
        F.when(~old_present, F.lit("added"))
        .when(~new_present, F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out = j.select(
        *[F.coalesce(F.col(f"__n_{k}"), F.col(f"__o_{k}")).alias(k) for k in keys],
        change.alias("change"),
    )
    if not include_unchanged:
        out = out.where(F.col("change") != "unchanged")
    return out


def diff_summary(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """(change, n) counts for a snapshot diff, unchanged included."""
    return (
        snapshot_diff(old, new, keys, compare_cols, include_unchanged=True)
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    upsert_ops: Sequence[str] = ("insert", "update"),
    delete_ops: Sequence[str] = ("delete",),
) -> DataFrame:
    """Apply a CDC change log to a snapshot — the Debezium/DMS-shaped
    primitive Delta's ``APPLY CHANGES INTO`` provides: ``changes``
    carries (keys..., payload..., ``op_col``, ``seq_col``); only each
    key's LATEST op (max ``seq_col``, ties by op precedence: a delete
    at the same sequence number wins, matching the convention that a
    tombstone emitted in the same transaction supersedes the update)
    takes effect. Upsert ops replace/insert the row; delete ops remove
    the key; keys untouched by the log pass through.

    Scale shape: one window over the CHANGE LOG (shuffled on its keys —
    the log is the small side in steady state) + the same anti-join /
    union as :func:`upsert_snapshot`; the base relation never sorts.
    Unknown (or NULL) op values fail loudly rather than silently
    dropping changes — the check rides the main projection
    (``raise_error`` under a ``when``), so a call is exactly one job
    with no eager validation pass over the log. The payload columns are
    ``base``'s non-key columns — the change log must carry them all for
    upserts (deletes may carry NULLs).
    """
    keys = list(keys)
    known = set(upsert_ops) | set(delete_ops)
    # inline fail-loud: isin() is NULL for NULL ops, so the when()
    # condition is not-true for both unknown strings AND NULLs — either
    # way the otherwise branch raises with the offending value
    changes = changes.withColumn(
        op_col,
        F.when(F.col(op_col).isin(*known), F.col(op_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("apply_cdc: unknown op '"),
                    F.coalesce(F.col(op_col).cast("string"), F.lit("NULL")),
                    F.lit(f"' in the change log (known: {sorted(known)})"),
                )
            )
        ),
    )
    # delete-beats-upsert at equal seq: order by (seq desc, is_delete desc)
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        F.col(op_col).isin(*delete_ops).cast("int").desc(),
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    payload_cols = [c for c in base.columns if c not in keys]
    upserts = latest.where(F.col(op_col).isin(*upsert_ops)).select(
        *keys, *payload_cols
    )
    touched = latest.select(*keys)  # deletes AND upserts both retire the old row
    survivors = base.join(touched.distinct(), keys, "left_anti")
    return survivors.unionByName(upserts)
