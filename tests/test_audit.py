"""Plan auditor (plans/audit.py): each rule must fire on a plan that
has the defect and stay silent on the engine's own clean plans."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.plans import REGISTRY
from iot_sensor_data_pipeline_spark.plans.audit import audit_plan, blocking

SF = "/root/testdata/sf0.01"


def _rules(findings):
    return {f.rule for f in findings}


def test_cartesian_product_blocks(spark):
    # small sides would plan as BroadcastNestedLoopJoin; disable the
    # broadcast to get the true CartesianProduct shape
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.range(10)
        b = spark.range(10).withColumnRenamed("id", "id2")
        f = audit_plan(a.crossJoin(b))
        assert "cartesian-product" in _rules(blocking(f))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_global_window_blocks(spark):
    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    f = audit_plan(df)
    assert "single-partition-funnel" in _rules(blocking(f))


def test_keyed_window_clean(spark):
    df = spark.range(100).withColumn("g", F.col("id") % 5).withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert not blocking(audit_plan(df))


def test_global_two_phase_agg_is_not_flagged(spark):
    df = spark.range(1000).agg(F.sum("id").alias("s"))
    assert not blocking(audit_plan(df))


def test_top_k_take_ordered_clean(spark):
    df = spark.range(1000).orderBy(F.col("id").desc()).limit(5)
    assert not blocking(audit_plan(df))


def test_row_at_a_time_python_blocks(spark):
    bad = F.udf(lambda x: x + 1, "bigint")
    f = audit_plan(spark.range(10).select(bad("id").alias("y")))
    assert "row-at-a-time-python" in _rules(blocking(f))


def test_pandas_udf_is_fine(spark):
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark can't resolve 'pd.Series' lazily
    inc = pandas_udf(lambda s: s + 1, "long")
    assert not blocking(audit_plan(spark.range(10).select(inc("id").alias("y"))))


def test_bnlj_warns_by_default_blocks_when_strict(spark):
    big = spark.range(100)
    one = spark.range(5).agg(F.max("id").alias("m"))
    theta = big.join(F.broadcast(one), big.id > F.col("m"))
    assert _rules(audit_plan(theta)) >= {"broadcast-nested-loop"}
    assert not blocking(audit_plan(theta))
    assert blocking(audit_plan(theta, allow_bnlj_scalar=False))


def test_engine_headline_queries_have_no_blocking_findings(spark):
    """The auditor agrees with the suite's own plan pins: every benched
    registry query audits clean."""
    # documented exception: brute-force kNN broadcasts the driver-small
    # query set and cross-scores it against the corpus scan — a BNLJ by
    # design, with the build side bounded by the broadcast threshold
    # (plan pinned in test_plans.test_knn_broadcasts_queries_not_corpus)
    sanctioned_bnlj = {"embeddings_knn_brute_force"}
    for name, q in REGISTRY.items():
        if not q.bench:
            continue
        f = blocking(audit_plan(q.fn(spark, SF)))
        if name in sanctioned_bnlj:
            f = [x for x in f if x.rule != "broadcast-nested-loop"]
        assert not f, (name, f)


def test_full_relation_bnlj_blocks_even_with_scalar_allowance(spark):
    """allow_bnlj_scalar only sanctions 1-row scalar builds; a BNLJ
    whose build side is a real relation must still block."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1048576")
        a = spark.range(1000).withColumnRenamed("id", "x")
        b = spark.range(500).withColumnRenamed("id", "y")
        theta = a.join(F.broadcast(b), F.col("x") > F.col("y"))
        f = blocking(audit_plan(theta))
        assert "broadcast-nested-loop" in _rules(f)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.extended
def test_extended_registry_queries_have_no_blocking_findings(spark):
    """The extended registry (TPC-H full suite, span dedup, graph,
    interval join) must audit clean too — scalar-threshold BNLJs
    (q11/q15/q22) downgrade to warn by the build-side check, never
    block. ``extended`` tier: whole-non-gate-registry plan sweep."""
    from iot_sensor_data_pipeline_spark.plans import EXTENDED_REGISTRY

    # same documented exception as the gate's brute-force kNN: these
    # queries score an exact cosine_topk ranking, whose
    # broadcast-queries x corpus-scan cross-score is a BNLJ by design
    # (build side = the driver-small query set). documents_hybrid_rrf
    # (r13) fuses that exact dense ranking with BM25 via RRF — its
    # lexical half and the fusion itself audit clean.
    sanctioned_bnlj = {"embeddings_ranking_metrics", "documents_hybrid_rrf"}
    for name, q in EXTENDED_REGISTRY.items():
        f = blocking(audit_plan(q.fn(spark, SF)))
        if name in sanctioned_bnlj:
            f = [x for x in f if x.rule != "broadcast-nested-loop"]
        assert not f, (name, f)


def test_nested_scalar_bnlj_does_not_sanction_outer_join(spark):
    """A sanctioned scalar BNLJ nested in the PROBE subtree must not
    launder the outer full-relation BNLJ: build-side detection is by
    tree structure, not first-marker-after-the-join-line."""
    big = spark.range(200).withColumnRenamed("id", "x")
    one = spark.range(50).agg(F.max("id").alias("m"))
    inner = big.join(F.broadcast(one), F.col("x") > F.col("m"))
    other = spark.range(100).withColumnRenamed("id", "y")
    outer = inner.join(F.broadcast(other), F.col("x") > F.col("y"))
    f = audit_plan(outer)
    bnlj = [x for x in f if x.rule == "broadcast-nested-loop"]
    assert len(bnlj) == 2  # one finding per join, no early break
    assert any(x.severity == "block" for x in bnlj)   # the outer
    assert any(x.severity == "warn" for x in bnlj)    # the inner


def test_stream_auditor_flags_bnlj_batch_and_warns_once(spark, tmp_path):
    """VERDICT r6 item 6: a deliberately BNLJ-shaped per-batch
    transform is flagged by the StreamAuditor inside the foreachBatch
    fan-out — once, across multiple micro-batches."""
    import json
    import time

    from iot_sensor_data_pipeline_spark.plans.audit import StreamAuditor
    from iot_sensor_data_pipeline_spark.streaming.jobs import start_ingest

    src = tmp_path / "src"
    src.mkdir()

    def reading(mm):
        return json.dumps(
            {
                "sensor_id": "A_1_100_temperature",
                "sensor_type": "temperature",
                "location": {"building": "A", "floor": 1, "room": "100"},
                "timestamp": f"2026-01-01T00:{mm}:00",
                "value": 20.0,
                "unit": "celsius",
                "metadata": {"battery_level": 90, "signal_strength": -60},
            }
        )

    def write_batch(name, lines):
        tmp = src / f".{name}.tmp"
        tmp.write_text("\n".join(lines) + "\n")
        tmp.rename(src / name)
        time.sleep(0.05)

    dim = spark.createDataFrame([(30.0,), (60.0,)], "cutoff double")
    # non-equi join against a broadcast dim -> BroadcastNestedLoopJoin
    # with a NON-scalar build side -> block
    transform = lambda df: df.join(  # noqa: E731
        F.broadcast(dim), F.col("value") < F.col("cutoff")
    )
    auditor = StreamAuditor(name="bnlj-stream")
    collected: list = []
    raw = spark.readStream.text(str(src))
    q = start_ingest(
        raw,
        readings_sinks=[lambda df: collected.extend(df.collect())],
        alerts_sinks=[],
        checkpoint=str(tmp_path / "chk"),
        dead_letter=lambda df: None,
        transform=transform,
        auditor=auditor,
    )
    try:
        write_batch("b1.json", [reading("01"), reading("02")])
        q.processAllAvailable()
        write_batch("b2.json", [reading("03")])
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(collected) == 6  # 3 readings x 2 matching cutoffs
    rules = [f.rule for f in auditor.findings]
    assert rules.count("broadcast-nested-loop") == 1  # warn-once
    assert any(
        f.rule == "broadcast-nested-loop" and f.severity == "block"
        for f in auditor.findings
    )


def test_stream_auditor_silent_on_clean_stream(spark, tmp_path):
    from iot_sensor_data_pipeline_spark.plans.audit import StreamAuditor, blocking
    from iot_sensor_data_pipeline_spark.streaming.jobs import start_ingest

    import json
    import time

    src = tmp_path / "src"
    src.mkdir()
    line = json.dumps(
        {
            "sensor_id": "A_1_100_temperature",
            "sensor_type": "temperature",
            "location": {"building": "A", "floor": 1, "room": "100"},
            "timestamp": "2026-01-01T00:01:00",
            "value": 20.0,
            "unit": "celsius",
            "metadata": {"battery_level": 90, "signal_strength": -60},
        }
    )
    tmp = src / ".b1.json.tmp"
    tmp.write_text(line + "\n")
    tmp.rename(src / "b1.json")
    time.sleep(0.05)

    auditor = StreamAuditor()
    got: list = []
    q = start_ingest(
        spark.readStream.text(str(src)),
        readings_sinks=[lambda df: got.extend(df.collect())],
        alerts_sinks=[],
        checkpoint=str(tmp_path / "chk"),
        auditor=auditor,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == 1
    assert not blocking(auditor.findings), auditor.findings
