"""Physical-plan shape assertions: the scale properties SCALE.md
promises must be visible in the executed plans, not just intended."""

from __future__ import annotations

import ast
import os

import pytest

from iot_sensor_data_pipeline_spark.plans import EXTENDED_REGISTRY, REGISTRY

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    q = REGISTRY.get(name) or EXTENDED_REGISTRY[name]
    return q.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_reach_the_scan(spark):
    # q6 registers through the tpch_q6_q14_scalars union since round 5;
    # the pushdown assertions pin its standalone (benched) plan
    from iot_sensor_data_pipeline_spark.plans.queries_relational2 import (
        tpch_q6_forecast_revenue,
    )

    plan = (
        tpch_q6_forecast_revenue(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters:" in plan
    # every predicate pushed: shipdate range, discount range, quantity
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({frag})" in plan or frag in plan.split("PushedFilters")[1][:400]
    # projection pruned to the 4 referenced columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_q1_single_exchange(spark):
    plan = plan_of(spark, "tpch_q1_pricing_summary")
    assert plan.count("Exchange") == 1  # partial -> final agg only


def test_q3_take_ordered_no_global_sort(spark):
    plan = plan_of(spark, "tpch_q3_top_orders")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_topk_per_group_window_group_limit(spark):
    plan = plan_of(spark, "orders_topk_per_customer")
    assert "WindowGroupLimit" in plan  # partitions prune to k pre-window


def test_asof_join_single_exchange(spark):
    plan = plan_of(spark, "events_asof_join")
    assert plan.count("Exchange") == 1  # one shuffle on the equi-key


def test_knn_broadcasts_queries_not_corpus(spark):
    plan = plan_of(spark, "embeddings_knn_brute_force")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_rules_classification_stays_codegen(spark):
    plan = plan_of(spark, "events_alert_rules")
    # the generated CASE chain compiles into the scan-side projection:
    # no exchange, no join, no python evals
    assert plan.count("Exchange") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_text_features_no_shuffle_no_python(spark):
    plan = plan_of(spark, "documents_text_features")
    assert plan.count("Exchange") == 0
    assert "EvalPython" not in plan


def test_spend_quartiles_no_single_partition_exchange(spark, sf_dir):
    """customers_spend_quartiles must not contain the global-window
    scale-killer: ranks come from range repartition + local windows,
    so no Exchange SinglePartition anywhere in the physical plan."""
    from iot_sensor_data_pipeline_spark.plans.queries_relational2 import (
        customers_spend_quartiles,
    )

    df = customers_spend_quartiles(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_spend_quartiles_oracle_parity(spark, sf_dir):
    """The arithmetic ntile/percent_rank/cume_dist derivation equals
    the window-function definitions (DuckDB oracle hash-compare)."""
    from iot_sensor_data_pipeline_spark.plans.queries_relational2 import (
        _NTILE_ORACLE,
        customers_spend_quartiles,
    )
    from tests.oracle_harness import compare_query

    ok, msg = compare_query(spark, sf_dir, customers_spend_quartiles, _NTILE_ORACLE)
    assert ok, msg


def test_global_row_number_and_derived_rank_functions(spark):
    """operators.ranking vs Spark's own window functions on a small
    frame with heavy ties on the leading key (unique composite key)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from iot_sensor_data_pipeline_spark.operators.ranking import (
        cume_dist_from_rank,
        global_row_number,
        ntile_from_rank,
        percent_rank_from_rank,
    )

    rows = [(i, float(v)) for i, v in enumerate([5, 3, 3, 3, 8, 1, 5, 5, 2, 9, 0, 0])]
    df = spark.createDataFrame(rows, "id long, x double")
    n = len(rows)

    order = [F.col("x").asc(), F.col("id").asc()]
    got = global_row_number(df, order, "rn", num_partitions=4)
    for tiles in (1, 3, 4, 5, 12, 20):
        got = got.withColumn(f"t{tiles}", ntile_from_rank(F.col("rn"), n, tiles))
    got = got.withColumn("pr", F.round(percent_rank_from_rank(F.col("rn"), n), 9))
    got = got.withColumn("cd", F.round(cume_dist_from_rank(F.col("rn"), n), 9))

    w = W.orderBy(*order)
    want = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        *[F.ntile(t).over(w).alias(f"t{t}") for t in (1, 3, 4, 5, 12, 20)],
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
    )
    cols = want.columns
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.collect())
    )

def test_global_row_number_single_materialization_and_count(spark):
    """ADVICE r03 (high): the offsets collect and the output join must
    read ONE materialized range partitioning — the output plan scans
    the local checkpoint (ExistingRDD, lineage truncated), so
    repartitionByRange's sampled boundaries cannot differ between the
    two jobs and can never be re-sampled by recomputation. The
    return_count total comes from the same offsets, no extra action."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.operators.ranking import global_row_number

    df = spark.range(1000).select(
        F.col("id"), (F.hash("id") % 100).alias("k")
    )
    out, n = global_row_number(
        df, [F.col("k").asc(), F.col("id").asc()], "rn", num_partitions=8,
        return_count=True,
    )
    assert n == 1000
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # checkpointed partitioning, no re-exchange
    assert "repartitionByRange" not in plan and "RangePartitioning" not in plan
    rows = out.orderBy("rn").collect()
    assert [r.rn for r in rows] == list(range(1, 1001))
    want = sorted(((r.k, r.id) for r in rows))
    assert [(r.k, r.id) for r in sorted(rows, key=lambda r: r.rn)] == want

def test_q5_dims_broadcast_facts_shuffle(spark):
    """6-way join: region/nation/supplier chain must broadcast (no
    shuffle of a fact table to meet a dim); the lineitem-orders and
    customer joins are the only shuffled ones."""
    plan = plan_of(spark, "tpch_q5_regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation x region, supplier-side
    assert "BroadcastNestedLoopJoin" not in plan
    # lineitem (the big fact) must never be on a broadcast side
    for line in plan.splitlines():
        if "BroadcastExchange" in line:
            assert "lineitem" not in line


def test_sessionize_single_exchange_for_all_windows(spark):
    """lag + running sum + final agg all share the user_id hash
    partitioning: ONE exchange total, no per-window re-shuffle."""
    plan = plan_of(spark, "events_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan

def test_no_query_has_single_partition_window_or_cartesian(spark):
    """Fleet-wide scale-hazard net over EVERY registered query's
    executed plan: no window/sort fed by an Exchange SinglePartition
    (the global-order scale-killer), no CartesianProduct, no
    broadcast-nested-loop join outside the two documented
    quadratic-by-design baselines (brute-force kNN's
    crossJoin(broadcast) and the exact cosine near-dup oracle's
    non-equi self-join)."""
    import __spark_entry__ as E

    bnlj_by_design = {
        "embeddings_knn_brute_force",
        "embeddings_cosine_near_dup",
        # fuzzy_join's short-stratum branch: a cross join whose BOTH
        # sides are length-bounded (< q*(d+1)+d chars) by construction
        # — never |L| x |R|; empty on the customer-name fixture but
        # present in the plan (operators/joins.py docstring)
        "tokens_heavy_hitters_fuzzy",
        # rotated into the gate in r07: the n-baskets total rides as a
        # 1-row broadcast crossJoin (operators/itemsets.py) — the
        # sanctioned scalar pattern audit_plan downgrades to warn
        "parts_association_rules",
        # rotated into the gate in r10: the (total, n_keys) scalar rides
        # as a 1-row broadcast crossJoin (operators/skew.py skew_report)
        # — the same sanctioned pattern
        "lineitem_skew_report",
    }

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in E.queries().items():
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        flags = []
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln:
                ctx = " | ".join(lines[max(0, i - 3):i])
                # node-name match: 'Sort [' / 'Window [' — bare
                # substrings would false-flag SortAggregate/
                # WindowGroupLimit above a legitimate global agg
                if "Window [" in ctx or "Sort [" in ctx:
                    flags.append("single-partition window/sort")
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_by_design:
            flags.append("BroadcastNestedLoopJoin")
        if flags:
            offenders[name] = sorted(set(flags))
    assert not offenders, offenders


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime semi-join reduction: when a selectively-filtered build
    side joins a fact table WITHOUT broadcast (the 100 TB fact-fact
    regime), the session must allow Spark to inject a bloom filter on
    the fact side's scan — probe rows that cannot match are dropped
    before the shuffle. At sf0.1 the default size thresholds suppress
    the rewrite (the fact side is tiny), so the test lowers the
    application-side threshold to emulate at-scale relation sizes and
    pins that nothing in the engine's session config disables the
    rewrite itself."""
    from pyspark.sql import functions as F

    from iot_sensor_data_pipeline_spark.sources.tables import load_table

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        orders = load_table(spark, SF, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan  # built on the filtered side
        assert "might_contain" in plan.lower()  # applied on the fact scan side
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )


def test_behavioral_analytics_plan_shape(spark):
    """The union's three branches keep their operators' scale shapes:
    the funnel is a groupBy + codegen array fold (no per-step join
    chain), transitions come from lead() (no event self-join), and no
    Python appears anywhere."""
    plan = plan_of(spark, "events_behavioral_analytics")
    assert "EvalPython" not in plan and "InPandas" not in plan
    # transitions use lead(), never a self-join of events on user_id
    assert plan.count("SortMergeJoin") <= 1  # retention's first-event join may SMJ
    assert "CartesianProduct" not in plan


def test_timeseries_analytics_plan_shape(spark):
    """zscore + pattern top-k: one exchange per branch (the series-key
    window shuffle), per-partition heaps for the top-k (TakeOrdered),
    no Python."""
    plan = plan_of(spark, "events_timeseries_analytics")
    assert plan.count("Exchange") <= 2
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_heavy_hitters_fuzzy_plan_shape(spark):
    """heavy branch: the only Python is the Arrow-batched MG sketch
    (MapInPandas); the exact recount joins candidates (semi-join),
    never groupBy-counting the full distinct token set ahead of the
    filter. fuzzy branch: gram equi-join, bounded short stratum."""
    plan = plan_of(spark, "tokens_heavy_hitters_fuzzy")
    assert "MapInPandas" in plan  # the MG candidate sketch
    assert "LeftSemi" in plan  # exact recount restricted to candidates
    assert "CartesianProduct" not in plan


def _lake_bench_queries() -> tuple[str, ...]:
    """``perfbench/lake.py:QUERIES``, read as a literal (importing the
    benchmark module would pull in its harness)."""
    src = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "perfbench", "lake.py")
    with open(src) as fh:
        tree = ast.parse(fh.read())
    return next(
        ast.literal_eval(node.value) for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "QUERIES" for t in node.targets)
    )


def test_lake_bench_queries_rebuild_without_jobs(spark, sf_dir):
    """Building each benchmark lake query a second time over unchanged
    tables launches no Spark job: query construction stays lazy, and
    each table's parquet schema is inferred once per file set
    (``sources.tables``)."""
    names = _lake_bench_queries()
    assert len(names) == 6
    sc = spark.sparkContext
    for name in names:
        fn = (REGISTRY.get(name) or EXTENDED_REGISTRY[name]).fn
        fn(spark, sf_dir)
        group = f"rebuild:{name}"
        sc.setJobGroup(group, group)
        try:
            fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
