"""File source breadth: csv / json / parquet round-trips with explicit
schemas (no inference in the engine's read path)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

ROWS = [(1, "a", 1.5), (2, "b,with,commas", -2.0), (3, None, None)]


def test_csv_roundtrip_explicit_schema(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "csv")
    df.write.option("header", True).csv(path)
    back = spark.read.schema(SCHEMA).option("header", True).csv(path)
    assert sorted(back.collect()) == sorted(df.collect())
    assert back.schema == SCHEMA  # no inference drift


def test_json_roundtrip_explicit_schema(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "json")
    df.write.json(path)
    back = spark.read.schema(SCHEMA).json(path)
    assert sorted(back.collect()) == sorted(df.collect())


def test_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "orc")
    df.write.orc(path)
    back = spark.read.orc(path)
    assert sorted(back.collect()) == sorted(df.collect())
    assert back.schema == SCHEMA


def test_json_corrupt_line_permissive(spark, tmp_path):
    path = tmp_path / "data"
    path.mkdir()
    (path / "part.json").write_text('{"id": 1, "name": "x", "score": 2.0}\n{nope\n')
    back = spark.read.schema(SCHEMA).json(str(path))
    rows = back.collect()
    assert len(rows) == 2  # corrupt line kept as all-null row (PERMISSIVE)
    assert sorted([r.id for r in rows], key=lambda x: (x is None, x)) == [1, None]


def _jobs_of(spark, group: str, fn):
    """fn() under its own job group; returns (result, job ids launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_reuses_schema_without_a_job(spark, tmp_path):
    """The second load_table of an unchanged table reuses the first
    read's inferred schema: same schema and rows, no Spark job."""
    from iot_sensor_data_pipeline_spark.sources.tables import load_table

    spark.createDataFrame(ROWS, SCHEMA).write.parquet(str(tmp_path / "t.parquet"))
    first, jobs1 = _jobs_of(spark, "schema-first", lambda: load_table(spark, str(tmp_path), "t"))
    again, jobs2 = _jobs_of(spark, "schema-again", lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs1  # the first read infers the schema with a footer job
    assert jobs2 == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_load_table_sees_a_rewritten_table(spark, tmp_path):
    """A table rewritten at the same path with an added column is
    re-inferred: the cached schema is keyed on the file set."""
    from iot_sensor_data_pipeline_spark.sources.tables import load_table

    path = str(tmp_path / "t.parquet")
    df = spark.createDataFrame(ROWS, SCHEMA)
    df.write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id", "name", "score"]
    df.withColumn("extra", F.col("id") * 2).write.mode("overwrite").parquet(path)
    back = load_table(spark, str(tmp_path), "t")
    assert back.columns == ["id", "name", "score", "extra"]
    assert sorted(r.extra for r in back.collect()) == [2, 4, 6]


def test_load_table_reinfers_when_an_inference_conf_changes(spark, tmp_path):
    """Toggling spark.sql.parquet.binaryAsString between two reads of
    an unchanged table re-infers the schema (a plain BINARY column,
    written without Spark's schema metadata)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iot_sensor_data_pipeline_spark.sources.tables import load_table

    pq.write_table(pa.table({"b": pa.array([b"xy"], pa.binary())}), str(tmp_path / "t.parquet"))
    conf = "spark.sql.parquet.binaryAsString"
    try:
        spark.conf.set(conf, "false")
        assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
        spark.conf.set(conf, "true")
        back = load_table(spark, str(tmp_path), "t")
        assert back.dtypes == [("b", "string")]
        assert back.collect()[0].b == "xy"
    finally:
        spark.conf.unset(conf)
