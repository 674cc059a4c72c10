"""Declarative data-quality constraints over DataFrames: a check suite
evaluated with the minimum number of jobs, reporting violations as a
relation.

The operational half of profiling (operators/sketches.py
`profile_columns` DESCRIBES a table; this module asserts what a
pipeline REQUIRES of it): completeness, domains, ranges, key
uniqueness, referential integrity, arbitrary predicates — the checks a
100 TB ingest runs before promoting a batch, in the spirit of
Deequ/Great Expectations but engine-native.

Evaluation strategy (the scale part):

- Every ROW-LEVEL check (not_null / in_range / in_set / regex /
  custom predicate) compiles to one conditional-sum aggregate; ALL of
  them evaluate in a SINGLE scan with map-side partial aggregation —
  a 50-check suite costs one pass, never 50.
- ``unique`` needs the key's group-by (the same shuffle the dedup it
  guards would pay); ``ref_integrity`` is an anti-join against the
  referenced relation — broadcast when small, and prunable with
  operators/bloom.py when huge. These run as their own jobs and union
  into the same report.
- The report is a DataFrame (check, kind, column, n_rows,
  n_violations, passed) — joinable, persistable, alertable like any
  other relation; nothing is collected unless the caller does.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Check",
    "not_null",
    "in_range",
    "in_set",
    "satisfies",
    "unique",
    "ref_integrity",
    "check_suite",
]


@dataclass(frozen=True)
class Check:
    name: str
    kind: str
    column: str
    #: row-level checks: SQL boolean expr that is TRUE when VIOLATED
    violation_expr: str | None = None
    #: unique: tuple of key columns
    key_cols: tuple[str, ...] = ()
    #: ref_integrity: the referenced relation + its key column
    ref_df: DataFrame | None = None
    ref_col: str | None = None

    def __post_init__(self):
        if self.kind not in ("row", "unique", "ref"):
            raise ValueError(f"unknown check kind: {self.kind!r}")


def _q(col: str) -> str:
    return f"`{col}`"


def not_null(col: str, name: str | None = None) -> Check:
    return Check(name or f"not_null({col})", "row", col, f"{_q(col)} IS NULL")


def in_range(col: str, lo=None, hi=None, name: str | None = None) -> Check:
    """Violated when outside [lo, hi] (either bound optional). NULLs do
    not violate range checks — pair with not_null to forbid them."""
    if lo is None and hi is None:
        raise ValueError("in_range needs at least one bound")
    parts = []
    if lo is not None:
        parts.append(f"{_q(col)} < {_lit(lo)}")
    if hi is not None:
        parts.append(f"{_q(col)} > {_lit(hi)}")
    expr = f"({' OR '.join(parts)}) AND {_q(col)} IS NOT NULL"
    return Check(name or f"in_range({col})", "row", col, expr)


def in_set(col: str, values, name: str | None = None) -> Check:
    vals = ", ".join(_lit(v) for v in values)
    if not vals:
        raise ValueError("in_set needs at least one value")
    expr = f"{_q(col)} NOT IN ({vals}) AND {_q(col)} IS NOT NULL"
    return Check(name or f"in_set({col})", "row", col, expr)


def satisfies(predicate_sql: str, name: str, column: str = "*") -> Check:
    """Custom row predicate that must hold; violated when FALSE or NULL
    (an unevaluable predicate is a violation, not a free pass)."""
    return Check(name, "row", column, f"NOT coalesce({predicate_sql}, false)")


def unique(*cols: str, name: str | None = None) -> Check:
    if not cols:
        raise ValueError("unique needs at least one column")
    return Check(
        name or f"unique({', '.join(cols)})", "unique", ", ".join(cols), None, tuple(cols)
    )


def ref_integrity(
    col: str, ref_df: DataFrame, ref_col: str, name: str | None = None
) -> Check:
    """Violated by rows whose non-NULL ``col`` has no match in
    ``ref_df[ref_col]`` (orphaned foreign keys)."""
    return Check(
        name or f"ref_integrity({col})", "ref", col, None, (), ref_df, ref_col
    )


def _lit(v) -> str:
    """SQL literal for a supported bound/set value type; anything else
    raises instead of interpolating repr() text into SQL."""
    import datetime
    import decimal
    import math

    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            raise ValueError(f"non-finite float bound not supported: {v!r}")
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v, "f") + "BD"  # Spark decimal-literal suffix
    if isinstance(v, datetime.datetime):  # before date: datetime subclasses it
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    raise ValueError(
        f"in_range/in_set: unsupported literal type {type(v).__name__} "
        "(supported: str, bool, int, float, Decimal, date, datetime)"
    )


_REPORT_COLS = ["check", "kind", "column", "n_rows", "n_violations", "passed"]


def _report_row(name, kind, column, n_rows: Column, n_viol: Column) -> list[Column]:
    return [
        F.lit(name).alias("check"),
        F.lit(kind).alias("kind"),
        F.lit(column).alias("column"),
        n_rows.alias("n_rows"),
        n_viol.alias("n_violations"),
        (n_viol == 0).alias("passed"),
    ]


def check_suite(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate all checks; one report row per check.

    Row-level checks share ONE aggregation (single scan); each unique /
    ref_integrity check contributes its own aggregate; the union is
    the report relation."""
    if not checks:
        raise ValueError("checks must not be empty")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError("duplicate check names")
    parts: list[DataFrame] = []

    row_checks = [c for c in checks if c.kind == "row"]
    if row_checks:
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.sum(F.expr(c.violation_expr).cast("long")).alias(f"__v{i}")
            for i, c in enumerate(row_checks)
        ]
        one = df.agg(*aggs)
        # explode the single aggregate row into one report row per
        # check — a union of per-check selects would duplicate the
        # aggregation subtree (no CSE across Union), i.e. one scan PER
        # check; this stays one scan total.
        structs = [
            F.struct(
                F.lit(c.name).alias("check"),
                F.lit("row").alias("kind"),
                F.lit(c.column).alias("column"),
                F.col("__n").alias("n_rows"),
                F.coalesce(F.col(f"__v{i}"), F.lit(0)).alias("n_violations"),
            )
            for i, c in enumerate(row_checks)
        ]
        parts.append(
            one.select(F.explode(F.array(*structs)).alias("r"))
            .select("r.*")
            .withColumn("passed", F.col("n_violations") == 0)
        )

    for c in checks:
        if c.kind == "unique":
            keys = list(c.key_cols)
            dup = (
                df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .agg(
                    F.coalesce(F.sum("__cnt"), F.lit(0)).alias("__n"),
                    F.coalesce(
                        F.sum(F.when(F.col("__cnt") > 1, F.col("__cnt")).otherwise(0)),
                        F.lit(0),
                    ).alias("__v"),
                )
            )
            parts.append(
                dup.select(
                    *_report_row(c.name, "unique", c.column, F.col("__n"), F.col("__v"))
                )
            )
        elif c.kind == "ref":
            # one LEFT join + one aggregation: total rows and orphan
            # count from the same pass (an anti-join + crossJoin pair
            # would cost two scans and a nested-loop 1x1 join)
            marked = c.ref_df.select(
                F.col(c.ref_col).alias(c.column)
            ).distinct().withColumn("__m", F.lit(1))
            j = df.select(c.column).join(marked, [c.column], "left")
            agg = j.agg(
                F.count(F.lit(1)).alias("__n"),
                F.coalesce(
                    F.sum(
                        (F.col(c.column).isNotNull() & F.col("__m").isNull()).cast(
                            "long"
                        )
                    ),
                    F.lit(0),
                ).alias("__v"),
            )
            parts.append(
                agg.select(
                    *_report_row(c.name, "ref", c.column, F.col("__n"), F.col("__v"))
                )
            )

    return reduce(lambda a, b: a.unionByName(b), parts)
