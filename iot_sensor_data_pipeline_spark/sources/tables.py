"""Batch table source: the driver's parquet star schema (TESTDATA.md).

Columnar parquet scans are the engine's batch ingest path — Catalyst
pushes filters and prunes columns into the scan, so operators should
filter/select as early as possible and let the optimizer do the rest.

Schema reuse: ``spark.read.parquet`` infers the schema on every call,
and even for one file without ``mergeSchema`` that inference is a Spark
job reading parquet footers. :func:`load_table` runs it once per file
set: the first read of a path infers exactly as a plain read does, and
later reads pass that inferred schema back through
``spark.read.schema(...)``, which launches no job. The reuse holds while
its key stays the same:

- the file set under the path: ``FileSystem.getContentSummary`` (total
  length, file count, directory count) plus the path's own modification
  time — two filesystem calls (one metadata RPC each on HDFS; the local
  filesystem walks the directory inside the JVM), no per-file round
  trip and no Spark job;
- the session confs that shape parquet inference (``_INFERENCE_CONFS``).

There is one entry per qualified path, replaced when its key changes,
so a table that keeps growing does not grow the cache. A path whose key
cannot be read (a missing path) is read plainly, so it fails exactly as
``spark.read.parquet`` does.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from iot_sensor_data_pipeline_spark.schema import TABLES

#: parquet TIMESTAMP(NANOS) is illegal for Spark's vectorized reader;
#: the legacy conf reads it as epoch-nanos long, which we convert below.
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: epoch-anchored NTZ conversion — deliberately timezone-independent
#: (no session-TZ involvement), truncating ns -> us exactly like
#: DuckDB's TIMESTAMP_NS -> TIMESTAMP cast, so oracle values align.
_NS_TO_TS = "timestampadd(MICROSECOND, {col} div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"


#: session confs whose values change what parquet schema inference returns
_INFERENCE_CONFS = (
    _NANOS_CONF,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: qualified path -> (file-set key, inference conf values, inferred schema).
#: Entries validate themselves against their key, so callers sharing the
#: process cannot see each other's stale schema; two threads that miss at
#: once both infer and store equal entries
_SCHEMAS: dict[str, tuple[tuple, tuple, StructType]] = {}


def _file_set_key(spark: SparkSession, path: str) -> tuple[str, tuple]:
    """(qualified path, key of the files under it): content summary
    plus the path's modification time, a fixed number of FS calls."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    qpath = fs.makeQualified(jpath)
    cs = fs.getContentSummary(qpath)
    return qpath.toString(), (
        cs.getLength(), cs.getFileCount(), cs.getDirectoryCount(),
        fs.getFileStatus(qpath).getModificationTime(),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    set and inference confs (module docstring)."""
    try:
        qpath, files = _file_set_key(spark, path)
    except Py4JJavaError:  # e.g. a missing path: the plain read raises as usual
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    hit = _SCHEMAS.get(qpath)
    if hit is not None and hit[:2] == (files, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[qpath] = (files, confs, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; scan-level pushdown/pruning happens downstream.

    Normalizes nanosecond-precision timestamp columns (events.ts) to
    TIMESTAMP_NTZ microseconds, the engine's canonical event-time type.
    """
    spark.conf.set(_NANOS_CONF, "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr(_NS_TO_TS.format(col="ts")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All driver tables keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view for spark.sql."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
