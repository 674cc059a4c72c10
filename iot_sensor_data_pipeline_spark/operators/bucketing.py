"""Bucketed table materialization: pay one shuffle at WRITE time, join
shuffle-free forever after.

A fact table that joins on the same key query after query (orders x
lineitem on orderkey, documents x any per-doc index on doc_id)
re-shuffles both sides on every run. Hash-bucketing the storage layout
(`bucketBy`) hash-partitions rows into a fixed bucket count AT WRITE
TIME and records it in the catalog; two tables bucketed on the join
key with compatible bucket counts then sort-merge join with NO exchange
— each task reads bucket i of both sides. `sortBy` additionally
pre-sorts within buckets, removing the per-task Sort as well. At 100 TB
this converts the recurring O(|fact|) shuffle into a one-time write
cost; the bucketed CDC snapshot (streaming/jobs.py) hash-buckets its
persisted state on the key for the same reason.

Bucket-count discipline: both sides equal (or one a multiple of the
other with `spark.sql.bucketing.coalesceBucketsInJoin.enabled`);
n_buckets should be sized so one bucket of the LARGER table fits an
executor's task comfortably (bucket bytes ~ table_bytes / n_buckets).

The runtime zero-shuffle property is asserted byte-level in
tests/test_bucketing.py via plans/metrics.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = ["write_bucketed", "bucketed_join"]


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Materialize ``df`` as a catalog-registered parquet table
    bucketed on ``keys`` (optionally sorted within buckets).

    bucketBy requires saveAsTable — the catalog is what carries the
    bucketing metadata to future readers; a plain parquet path would
    lose it."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    keys = list(keys)
    if not keys:
        raise ValueError("keys must name at least one bucket column")
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort_cols:
        writer = writer.sortBy(*list(sort_cols))
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two bucketed catalog tables on their bucket keys.

    Plain `spark.table(...).join(...)` — the point is that the scan
    carries the bucket spec, so the planner skips both exchanges when
    ``on`` covers the bucket keys of both sides."""
    return spark.table(left_table).join(spark.table(right_table), list(on), how)
