"""Constraint suite (operators/constraints.py): violation arithmetic on
planted defects, null semantics, and the one-scan evaluation claim."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.operators.constraints import (
    check_suite,
    in_range,
    in_set,
    not_null,
    ref_integrity,
    satisfies,
    unique,
)


@pytest.fixture(scope="module")
def dirty(spark):
    # planted defects: 2 null emails, 1 bad email, 1 dup id, 1 orphan
    # fk, 1 negative amount, 1 out-of-set status
    rows = [
        (1, "a@x.com", 10.0, "ok", 100),
        (2, None, 20.0, "ok", 100),
        (3, "b@y.org", -5.0, "ok", 101),
        (4, "not-an-email", 30.0, "bad", 102),
        (4, "c@z.net", 40.0, "ok", 999),  # dup id + orphan fk
        (5, None, 50.0, "ok", 101),
    ]
    df = spark.createDataFrame(rows, "id int, email string, amount double, status string, fk int")
    ref = spark.createDataFrame([(100,), (101,), (102,)], "k int")
    return df, ref


def _report(df, checks):
    return {r["check"]: r.asDict() for r in check_suite(df, checks).collect()}


def test_all_kinds_counted(spark, dirty):
    df, ref = dirty
    rep = _report(
        df,
        [
            not_null("email"),
            in_range("amount", 0, None),
            in_set("status", ["ok"]),
            unique("id"),
            ref_integrity("fk", ref, "k"),
        ],
    )
    assert rep["not_null(email)"]["n_violations"] == 2
    assert rep["in_range(amount)"]["n_violations"] == 1
    assert rep["in_set(status)"]["n_violations"] == 1
    assert rep["unique(id)"]["n_violations"] == 2  # both rows of the dup group
    assert rep["ref_integrity(fk)"]["n_violations"] == 1
    assert all(r["n_rows"] == 6 for r in rep.values())
    assert not any(r["passed"] for r in rep.values())


def test_clean_table_all_pass(spark, dirty):
    _, ref = dirty
    clean = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id int, amount double")
    rep = _report(clean, [not_null("id"), in_range("amount", 0, 10), unique("id")])
    assert all(r["passed"] for r in rep.values())
    assert all(r["n_violations"] == 0 for r in rep.values())


def test_null_semantics(spark):
    """Range/set/regex don't count NULLs; satisfies counts unevaluable
    predicates as violations."""
    df = spark.createDataFrame([(None,), (5,)], "v int")
    rep = _report(
        df,
        [
            in_range("v", 0, 10),
            in_set("v", [5]),
            satisfies("v < 10", "v_small"),
        ],
    )
    assert rep["in_range(v)"]["n_violations"] == 0
    assert rep["in_set(v)"]["n_violations"] == 0
    assert rep["v_small"]["n_violations"] == 1  # NULL predicate = violation


def test_row_checks_share_one_scan(spark, dirty):
    df, _ = dirty
    suite = check_suite(
        df, [not_null("email"), in_range("amount", 0, None), in_set("status", ["ok"])]
    )
    plan = suite._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ExistingRDD") + plan.count("Scan ") <= 2  # one source scan


def test_empty_table(spark, dirty):
    _, ref = dirty
    empty = spark.createDataFrame([], "id int, fk int")
    rep = _report(empty, [not_null("id"), unique("id"), ref_integrity("fk", ref, "k")])
    for r in rep.values():
        assert r["n_rows"] == 0 and r["n_violations"] == 0 and r["passed"]


def test_validation(spark, dirty):
    df, _ = dirty
    with pytest.raises(ValueError, match="at least one bound"):
        in_range("amount")
    with pytest.raises(ValueError, match="at least one value"):
        in_set("status", [])
    with pytest.raises(ValueError, match="not be empty"):
        check_suite(df, [])
    with pytest.raises(ValueError, match="duplicate check names"):
        check_suite(df, [not_null("email"), not_null("email")])
    with pytest.raises(ValueError, match="unknown check kind"):
        from iot_sensor_data_pipeline_spark.operators.constraints import Check

        Check("x", "nope", "c")


def test_lit_types_supported_and_rejected(spark):
    import datetime
    import decimal

    import pytest

    from iot_sensor_data_pipeline_spark.operators.constraints import (
        check_suite,
        in_range,
        in_set,
    )

    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), decimal.Decimal("10.50"))],
        "d date, amt decimal(10,2)",
    )
    rep = {
        r.check: r.passed
        for r in check_suite(
            df,
            [
                in_range("d", lo=datetime.date(2023, 1, 1), name="date_lo"),
                in_range(
                    "d", hi=datetime.datetime(2023, 1, 1, 12, 0), name="ts_hi"
                ),
                in_set("amt", [decimal.Decimal("10.50")], name="dec_set"),
            ],
        ).collect()
    }
    assert rep == {"date_lo": True, "ts_hi": False, "dec_set": True}

    with pytest.raises(ValueError, match="unsupported literal type"):
        in_range("d", lo=object())
    with pytest.raises(ValueError, match="non-finite"):
        in_range("amt", lo=float("nan"))
