"""Set operations (absent from the reference, SURVEY.md §2.4 gap list).

Thin, explicit wrappers over Spark's built-ins documenting the
bag-vs-set semantics choice each call makes. ``intersect_all`` /
``except_all`` preserve duplicates (ANSI INTERSECT ALL / EXCEPT ALL);
the plain variants deduplicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def intersect(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.intersectAll(b) if keep_duplicates else a.intersect(b)


def difference(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)
