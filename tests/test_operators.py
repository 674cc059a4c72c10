"""Unit tests for composed operators: as-of join semantics, per-group
top-k ties, approx aggregates accuracy."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.operators.joins import asof_join
from iot_sensor_data_pipeline_spark.operators.topk import top_k_per_group

T0 = dt.datetime(2026, 1, 1)


def ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, ts(10), "a"), (1, ts(30), "b"), (2, ts(5), "c")],
        "user int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(0), 100.0), (1, ts(20), 200.0), (2, ts(50), 900.0)],
        "user int, rts timestamp, rv double",
    )
    out = {
        r.tag: (r.rts, r.rv)
        for r in asof_join(
            left, right, on=["user"], left_ts="ts", right_ts="rts", right_vals=["rts", "rv"]
        ).collect()
    }
    assert out["a"] == (ts(0), 100.0)     # latest right <= 10min is 0min
    assert out["b"] == (ts(20), 200.0)    # latest right <= 30min is 20min
    assert out["c"] == (None, None)       # user 2's only right row is later


def test_asof_join_inclusive_equal_ts(spark):
    # DuckDB/kdb ASOF semantics: right row AT the left timestamp matches
    left = spark.createDataFrame([(1, ts(10), "x")], "user int, ts timestamp, tag string")
    right = spark.createDataFrame([(1, ts(10), 7.0)], "user int, rts timestamp, rv double")
    row = asof_join(
        left, right, on=["user"], left_ts="ts", right_ts="rts", right_vals=["rv"]
    ).collect()[0]
    assert row.rv == 7.0


def test_asof_join_null_values_in_matched_row_propagate(spark):
    # a matched right row whose VALUE is NULL must yield NULL (that
    # row's content), not fall back to an older non-null value, and
    # must not blend columns from different right rows
    left = spark.createDataFrame([(1, ts(30), "x")], "user int, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, ts(0), 5.0, "a"), (1, ts(20), None, "b")],
        "user int, rts timestamp, rv double, rlabel string",
    )
    row = asof_join(
        left, right, on=["user"], left_ts="ts", right_ts="rts", right_vals=["rv", "rlabel"]
    ).collect()[0]
    assert row.rv is None and row.rlabel == "b"  # the t=20 row, as-is


def test_asof_join_inner_keeps_matched_row_with_null_first_value(spark):
    left = spark.createDataFrame([(1, ts(30))], "user int, ts timestamp")
    right = spark.createDataFrame(
        [(1, ts(20), None, "lbl")], "user int, rts timestamp, rv double, rlabel string"
    )
    rows = asof_join(
        left, right, on=["user"], left_ts="ts", right_ts="rts",
        right_vals=["rv", "rlabel"], how="inner",
    ).collect()
    assert len(rows) == 1 and rows[0].rlabel == "lbl"  # matched despite rv NULL


def test_asof_join_inner_drops_unmatched(spark):
    left = spark.createDataFrame([(1, ts(10)), (2, ts(10))], "user int, ts timestamp")
    right = spark.createDataFrame([(1, ts(0), 1.0)], "user int, rts timestamp, rv double")
    rows = asof_join(
        left, right, on=["user"], left_ts="ts", right_ts="rts", right_vals=["rv"], how="inner"
    ).collect()
    assert [r.user for r in rows] == [1]


def test_top_k_per_group_rank_keeps_ties(spark):
    df = spark.createDataFrame(
        [("g", 3.0, 1), ("g", 3.0, 2), ("g", 1.0, 3)], "grp string, v double, id int"
    )
    rn = top_k_per_group(df, ["grp"], [F.col("v").desc()], 1, method="row_number").count()
    rk = top_k_per_group(df, ["grp"], [F.col("v").desc()], 1, method="rank").count()
    assert rn == 1 and rk == 2


def test_approx_count_distinct_accuracy(spark, sf_dir):
    from iot_sensor_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact, approx = li.agg(
        F.countDistinct("l_partkey").alias("e"),
        F.approx_count_distinct("l_partkey").alias("a"),
    ).collect()[0]
    assert abs(approx - exact) / exact < 0.05  # HLL default rsd ~2.3%

def test_setops_module_surface(spark):
    """operators.setops: intersect/difference with and without bag
    (ALL) semantics."""
    from iot_sensor_data_pipeline_spark.operators.setops import difference, intersect

    a = spark.createDataFrame([(1,), (2,), (2,)], "x int")
    b = spark.createDataFrame([(2,), (3,)], "x int")
    assert [r.x for r in intersect(a, b).collect()] == [2]
    assert sorted(r.x for r in difference(a, b).collect()) == [1]
    # bag semantics: duplicate 2 survives EXCEPT ALL against one 2... 
    assert sorted(r.x for r in difference(a, b, keep_duplicates=True).collect()) == [1, 2]


# ---------------------------------------------------------------------------
# range_join: bucketized interval join
# ---------------------------------------------------------------------------


def _range_fixture(spark, seed=5, n_points=400, n_intervals=60):
    import random

    rnd = random.Random(seed)
    pts = [(i, rnd.uniform(0, 1000.0)) for i in range(n_points)]
    ivs = []
    for j in range(n_intervals):
        lo = rnd.uniform(0, 1000.0)
        ivs.append((j, lo, lo + rnd.uniform(0.0, 40.0)))
    points = spark.createDataFrame(pts, "pid long, x double")
    intervals = spark.createDataFrame(ivs, "iid long, lo double, hi double")
    return points, intervals


def test_range_join_matches_naive_nonequi_join(spark):
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.operators.joins import range_join

    points, intervals = _range_fixture(spark)
    naive = points.join(
        intervals,
        (F.col("lo") <= F.col("x")) & (F.col("x") < F.col("hi")),
    )
    got = range_join(points, intervals, "x", "lo", "hi", bucket_width=20.0)
    want_set = {(r.pid, r.iid) for r in naive.collect()}
    got_rows = [(r.pid, r.iid) for r in got.collect()]
    assert len(got_rows) == len(want_set)  # exactly-once, no dup pass
    assert set(got_rows) == want_set
    assert len(want_set) > 100  # fixture actually exercises overlaps


def test_range_join_half_open_boundaries(spark):
    from iot_sensor_data_pipeline_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "pid long, x double"
    )
    intervals = spark.createDataFrame([(7, 10.0, 20.0)], "iid long, lo double, hi double")
    got = {(r.pid, r.iid) for r in range_join(points, intervals, "x", "lo", "hi", 5.0).collect()}
    assert got == {(1, 7)}  # lo inclusive, hi exclusive


def test_range_join_plan_has_no_nested_loop(spark):
    """The whole point: an equi-join plan (SMJ/SHJ/BHJ on the bucket),
    never BroadcastNestedLoopJoin or CartesianProduct."""
    from iot_sensor_data_pipeline_spark.operators.joins import range_join

    points, intervals = _range_fixture(spark)
    plan = (
        range_join(points, intervals, "x", "lo", "hi", 20.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_extra_keys(spark):
    from iot_sensor_data_pipeline_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(1, "a", 15.0), (2, "b", 15.0)], "pid long, grp string, x double"
    )
    intervals = spark.createDataFrame(
        [(7, "a", 10.0, 20.0), (8, "b", 10.0, 20.0)],
        "iid long, grp string, lo double, hi double",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(points, intervals, "x", "lo", "hi", 5.0, extra_on=["grp"]).collect()
    }
    assert got == {(1, 7), (2, 8)}


def test_range_join_rejects_bad_width_and_ambiguous_columns(spark):
    import pytest as _pytest

    from iot_sensor_data_pipeline_spark.operators.joins import range_join

    points = spark.createDataFrame([(1, 5.0)], "pid long, x double")
    intervals = spark.createDataFrame([(2, 0.0, 10.0)], "iid long, lo double, hi double")
    with _pytest.raises(ValueError, match="bucket_width"):
        range_join(points, intervals, "x", "lo", "hi", 0.0)
    with _pytest.raises(ValueError, match="bucket_width"):
        range_join(points, intervals, "x", "lo", "hi", float("inf"))
    clash = intervals.withColumnRenamed("iid", "pid")  # shares 'pid'
    with _pytest.raises(ValueError, match="share non-key"):
        range_join(points, clash, "x", "lo", "hi", 5.0)


# ---------------------------------------------------------------------------
# fuzzy_join (q-gram blocked edit-distance join)
# ---------------------------------------------------------------------------


def _name_corpus(spark):
    import random

    rnd = random.Random(13)
    bases = [
        "springfield", "shelbyville", "ogdenville", "northhaverbrook",
        "capitalcity", "cypresscreek", "brockway", "guidopolis",
    ]
    lefts, rights = [], []
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    for i, b in enumerate(bases):
        lefts.append((i, b))
        # a 1-edit typo and an unrelated string per base
        pos = rnd.randrange(len(b))
        typo = b[:pos] + rnd.choice(alphabet) + b[pos + 1 :]
        rights.append((100 + i, typo))
        rights.append((200 + i, "".join(rnd.choice(alphabet) for _ in range(10))))
    return (
        spark.createDataFrame(lefts, "lid long, name string"),
        spark.createDataFrame(rights, "rid long, name2 string"),
    )


def test_fuzzy_join_matches_naive_levenshtein(spark):
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.operators.joins import fuzzy_join

    left, right = _name_corpus(spark)
    got = {
        (r.a, r.b, r.distance)
        for r in fuzzy_join(left, right, "name", "name2", max_distance=2).collect()
    }
    naive = {
        (r.a, r.b, r.d)
        for r in left.crossJoin(right)
        .select(
            F.col("name").alias("a"),
            F.col("name2").alias("b"),
            F.levenshtein("name", "name2").alias("d"),
        )
        .where(F.col("d") <= 2)
        .collect()
    }
    assert got == naive
    assert len(got) >= 8  # every planted typo found


def test_fuzzy_join_short_strings_still_match(spark):
    """Strings below the q*(d+1) gram-guarantee floor go through the
    short-stratum branch instead of being silently missed."""
    from iot_sensor_data_pipeline_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame([(1, "ab")], "lid long, s string")
    right = spark.createDataFrame([(2, "ax"), (3, "zz")], "rid long, t string")
    got = {(r.a, r.b) for r in fuzzy_join(left, right, "s", "t", max_distance=1).collect()}
    assert got == {("ab", "ax")}


def test_fuzzy_join_no_cartesian_on_long_stratum(spark):
    """The long-string path must be an equi-join on grams; only the
    (empty here) short stratum may cross-join."""
    from iot_sensor_data_pipeline_spark.operators.joins import fuzzy_join

    left, right = _name_corpus(spark)  # all names are >= 6 chars
    plan = (
        fuzzy_join(left, right, "name", "name2", max_distance=1, q=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # candidate generation: a gram equi-join appears
    assert "g#" in plan or "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    exact = {
        (r.a, r.b)
        for r in fuzzy_join(left, right, "name", "name2", max_distance=1, q=2).collect()
    }
    assert len(exact) >= 8


def test_fuzzy_join_short_stratum_is_length_bounded(spark):
    """One 2-char code against a large right table must not cross-join
    the whole relation — only right strings the length filter could
    accept enter the short branch."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame([(1, "ab")], "lid long, s string")
    right = spark.range(5000).select(F.concat(F.lit("longname-"), F.col("id")).alias("t"))
    right = right.unionByName(spark.createDataFrame([("ac",)], "t string"))
    out = fuzzy_join(left, right, "s", "t", max_distance=1)
    assert {(r.a, r.b) for r in out.collect()} == {("ab", "ac")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the cross-join inputs are length-filtered on BOTH sides
    assert plan.count("length") >= 2


def test_fuzzy_join_id_mode_matches_naive(spark):
    """Id-keyed mode: same pair set as the naive cross join, keyed by
    (left_id, right_id) — including ids that share equal text (each id
    is its own output row), and the short stratum."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.operators.joins import fuzzy_join

    left, right = _name_corpus(spark)
    # duplicate-text ids: two left ids with identical text
    left = left.unionByName(
        left.limit(1).select((F.col("lid") + 1000).alias("lid"), "name")
    )
    got = {
        (r.left_id, r.right_id, r.distance)
        for r in fuzzy_join(
            left, right, "name", "name2", max_distance=2,
            left_id="lid", right_id="rid",
        ).collect()
    }
    naive = {
        (r.lid, r.rid, r.d)
        for r in left.crossJoin(right)
        .select("lid", "rid", F.levenshtein("name", "name2").alias("d"))
        .where(F.col("d") <= 2)
        .collect()
    }
    assert got == naive and len(got) >= 9


def test_fuzzy_join_id_mode_short_stratum(spark):
    from iot_sensor_data_pipeline_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame([(1, "ab")], "lid long, s string")
    right = spark.createDataFrame([(2, "ax"), (3, "zz")], "rid long, t string")
    got = {
        (r.left_id, r.right_id)
        for r in fuzzy_join(
            left, right, "s", "t", max_distance=1, left_id="lid", right_id="rid"
        ).collect()
    }
    assert got == {(1, 2)}


def test_fuzzy_join_id_mode_requires_both_ids(spark):
    import pytest as _pytest

    from iot_sensor_data_pipeline_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame([(1, "ab")], "lid long, s string")
    with _pytest.raises(ValueError, match="both left_id and right_id"):
        fuzzy_join(left, left, "s", "s", max_distance=1, left_id="lid")


def test_fuzzy_join_id_mode_gram_cap_counts_distinct_texts(spark):
    """A text value repeated across many ids must not push its grams
    over max_gram_freq: the cap is a property of the string
    distribution (id mode == text mode + join-back), not of row
    multiplicity."""
    from iot_sensor_data_pipeline_spark.operators.joins import fuzzy_join

    # 30 left ids share ONE long text; right has a 1-edit variant
    left = spark.createDataFrame(
        [(i, "warehouse-north-building") for i in range(30)], "lid long, s string"
    )
    right = spark.createDataFrame(
        [(100, "warehouse-north-buildinq")], "rid long, t string"
    )
    got = fuzzy_join(
        left, right, "s", "t", max_distance=1, q=3,
        max_gram_freq=5,  # << 30 id rows, > 1 distinct text
        left_id="lid", right_id="rid",
    )
    assert got.count() == 30  # every id pairs with the variant


def _asof_num_fixture(spark):
    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 30.0, "b"), (1, 55.0, "c"), (2, 5.0, "d")],
        "user int, t double, tag string",
    )
    right = spark.createDataFrame(
        [(1, 0.0, 100.0), (1, 28.0, 200.0), (1, 31.0, 300.0), (2, 50.0, 900.0)],
        "user int, rt double, rv double",
    )
    return left, right


def _run_asof(left, right, **kw):
    return {
        r.tag: (r.rt, r.rv)
        for r in asof_join(
            left, right, on=["user"], left_ts="t", right_ts="rt",
            right_vals=["rt", "rv"], **kw
        ).collect()
    }


def test_asof_join_forward(spark):
    left, right = _asof_num_fixture(spark)
    out = _run_asof(left, right, direction="forward")
    assert out["a"] == (28.0, 200.0)   # earliest right >= 10
    assert out["b"] == (31.0, 300.0)   # earliest right >= 30
    assert out["c"] == (None, None)    # nothing after 55 for user 1
    assert out["d"] == (50.0, 900.0)   # user 2's later row now matches


def test_asof_join_forward_inclusive_equal_ts(spark):
    left = spark.createDataFrame([(1, 20.0, "x")], "user int, t double, tag string")
    right = spark.createDataFrame([(1, 20.0, 7.0)], "user int, rt double, rv double")
    assert _run_asof(left, right, direction="forward")["x"] == (20.0, 7.0)


def test_asof_join_nearest_with_backward_tie(spark):
    left, right = _asof_num_fixture(spark)
    out = _run_asof(left, right, direction="nearest")
    assert out["a"] == (0.0, 100.0)    # |10-0|=10 < |28-10|=18
    # b: backward 28 (dist 2) vs forward 31 (dist 1) -> forward
    assert out["b"] == (31.0, 300.0)
    assert out["c"] == (31.0, 300.0)   # only backward exists
    assert out["d"] == (50.0, 900.0)   # only forward exists

    # exact tie -> backward (pandas semantics)
    left2 = spark.createDataFrame([(1, 30.0, "t")], "user int, t double, tag string")
    right2 = spark.createDataFrame(
        [(1, 25.0, 1.0), (1, 35.0, 2.0)], "user int, rt double, rv double"
    )
    assert _run_asof(left2, right2, direction="nearest")["t"] == (25.0, 1.0)


def test_asof_join_tolerance(spark):
    left, right = _asof_num_fixture(spark)
    out = _run_asof(left, right, tolerance=5.0)
    assert out["a"] == (None, None)    # backward match at dist 10 > 5
    assert out["b"] == (28.0, 200.0)   # dist 2 within tolerance
    out_n = _run_asof(left, right, direction="nearest", tolerance=1.5)
    assert out_n["b"] == (31.0, 300.0)  # nearest at dist 1
    assert out_n["a"] == (None, None)

    # inner mode composes: tolerance-nulled rows drop (c's backward
    # match at 31 is 24 away -> gone too)
    inner = asof_join(
        left, right, on=["user"], left_ts="t", right_ts="rt",
        right_vals=["rv"], how="inner", tolerance=5.0,
    )
    assert sorted(r.tag for r in inner.collect()) == ["b"]


def test_asof_join_direction_guards(spark):
    import pytest

    left, right = _asof_num_fixture(spark)
    with pytest.raises(ValueError, match="direction"):
        _run_asof(left, right, direction="sideways")
    with pytest.raises(ValueError, match="tolerance"):
        _run_asof(left, right, tolerance=-1.0)
    ts_left = spark.createDataFrame(
        [(1, T0, "x")], "user int, t timestamp, tag string"
    )
    ts_right = spark.createDataFrame(
        [(1, T0, 1.0)], "user int, rt timestamp, rv double"
    )
    with pytest.raises(ValueError, match="numeric ts"):
        asof_join(
            ts_left, ts_right, on=["user"], left_ts="t", right_ts="rt",
            right_vals=["rv"], direction="nearest",
        )
