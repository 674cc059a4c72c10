"""Eval-set decontamination (operators/decontamination.py): drop/scrub
goldens, key interchangeability with span_dedup, plan hygiene, guards,
DuckDB differential at two scale points (via test_tpch_full's extended
sweep; re-asserted here by name)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.operators.decontamination import (
    contaminated_spans,
    decontaminate,
    eval_gram_keys,
)

EVAL = "the capital of france is paris and the river is the seine"
CLEAN = "a quick brown fox jumps over the lazy dog near the red barn"
LEAK = "we know the capital of france is paris which everyone learns"
PART = "the seine flows through paris toward the sea in normandy france"


def _dfs(spark):
    train = spark.createDataFrame(
        [(1, CLEAN), (2, LEAK), (3, PART)], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(100, EVAL)], "doc_id long, text string")
    return train, ev


def test_drop_mode_removes_leaky_docs_whole(spark):
    train, ev = _dfs(spark)
    kept = decontaminate(train, ev, k=5, mode="drop")
    # LEAK shares the 6-gram "the capital of france is paris";
    # PART shares words but no 5-gram run; CLEAN shares nothing
    assert {r.doc_id for r in kept.collect()} == {1, 3}
    assert kept.columns == train.columns  # passthrough schema


def test_scrub_mode_cuts_only_overlap(spark):
    train, ev = _dfs(spark)
    out = {r.doc_id: r for r in decontaminate(train, ev, k=5, mode="scrub").collect()}
    assert out[1].n_removed == 0 and out[1].text_clean == CLEAN
    assert out[3].n_removed == 0
    r2 = out[2]
    assert r2.n_removed >= 5
    assert "capital" not in r2.text_clean
    assert "everyone learns" in r2.text_clean  # non-overlap survives


def test_evidence_relation_positions(spark):
    train, ev = _dfs(spark)
    hits = contaminated_spans(train, ev, k=5).collect()
    assert {h.doc_id for h in hits} == {2}
    # LEAK: "the capital of france is paris" at token offset 2 ->
    # two 5-gram windows (starts 2 and 3)
    assert sorted(h.start for h in hits) == [2, 3]


def test_precomputed_eval_keys_interchangeable(spark):
    """eval_gram_keys output can replace the raw eval docs — the
    persist-once-per-benchmark flow."""
    train, ev = _dfs(spark)
    keys = eval_gram_keys(ev, k=5)
    a = sorted(r.doc_id for r in decontaminate(train, ev, k=5).collect())
    b = sorted(r.doc_id for r in decontaminate(train, keys, k=5).collect())
    assert a == b


def test_partitioning_invariance(spark):
    train, ev = _dfs(spark)
    a = sorted(
        r.doc_id
        for r in decontaminate(train.repartition(7), ev.repartition(3), k=5).collect()
    )
    b = sorted(r.doc_id for r in decontaminate(train, ev, k=5).collect())
    assert a == b


def test_short_docs_pass_through(spark):
    train = spark.createDataFrame([(1, "too short")], "doc_id long, text string")
    ev = spark.createDataFrame([(9, EVAL)], "doc_id long, text string")
    assert decontaminate(train, ev, k=13).count() == 1


def test_mode_guard(spark):
    train, ev = _dfs(spark)
    with pytest.raises(ValueError, match="mode"):
        decontaminate(train, ev, mode="nuke")


def test_plan_jvm_side_and_broadcast(spark):
    """No Python eval anywhere; the eval key set broadcasts into the
    semi-join by default."""
    train, ev = _dfs(spark)
    plan = (
        contaminated_spans(train, ev, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_matches_duckdb_oracle_by_name(spark):
    # moved into the driver gate in r08 (REGISTRY, not extended)
    from iot_sensor_data_pipeline_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL
    from tests.oracle_harness import compare_query

    q = REGISTRY["documents_decontaminate"]
    for sf in ("/root/testdata/sf0.01", SF_SMALL):
        ok, msg = compare_query(spark, sf, q.fn, q.oracle)
        assert ok, (sf, msg)


def test_scrub_random_differential_vs_python(spark):
    """Randomized scrub-mode differential: small-alphabet corpora make
    shared k-grams dense; the Spark interval-merge cut must equal a
    naive python mark-and-remove on every doc."""
    import random

    rng = random.Random(777)
    words = ["a", "b", "c", "d"]
    K = 3

    def doc(n):
        return " ".join(rng.choice(words) for _ in range(n))

    train_rows = [(i, doc(rng.randint(0, 12))) for i in range(40)]
    eval_rows = [(100 + i, doc(rng.randint(3, 8))) for i in range(5)]

    ev_grams = set()
    for _, t in eval_rows:
        toks = t.split()
        for i in range(len(toks) - K + 1):
            ev_grams.add(tuple(toks[i : i + K]))

    def ref_scrub(t):
        toks = t.split()
        marked = [False] * len(toks)
        for i in range(len(toks) - K + 1):
            if tuple(toks[i : i + K]) in ev_grams:
                for j in range(i, i + K):
                    marked[j] = True
        kept = [tok for tok, m in zip(toks, marked) if not m]
        return " ".join(kept), sum(marked)

    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in decontaminate(train, ev, k=K, mode="scrub").collect()
    }
    for i, t in train_rows:
        assert got[i] == ref_scrub(t), (i, t)
