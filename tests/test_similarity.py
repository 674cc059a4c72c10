"""Similarity search: brute-force vs DuckDB is covered by the oracle
tests; here LSH recall vs brute force, and vector-math primitives."""

from __future__ import annotations

from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.operators.similarity import (
    cosine,
    cosine_topk,
    rp_lsh_topk,
)
from iot_sensor_data_pipeline_spark.sources.tables import load_table


def test_cosine_primitive(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([1.0, 0.0], [-1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [round(r.c, 9) for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [0.0, 1.0, -1.0]


def test_lsh_recall_vs_brute_force_isotropic_worst_case(spark, sf_dir_mid):
    emb = load_table(spark, sf_dir_mid, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(queries, emb, k=10)
    approx = rp_lsh_topk(queries, emb, k=10, dim=64, n_planes=5)

    e = {(r.qid, r.nid) for r in exact.collect()}
    a = {(r.qid, r.nid) for r in approx.collect()}
    n_queries = queries.count()
    assert len(e) == 10 * n_queries
    recall = len(e & a) / len(e)
    # isotropic random embeddings are RP-LSH's worst case (no cluster
    # structure, top-10 cosines are only ~0.3-0.5) — assert the floor
    assert recall >= 0.3, f"recall {recall:.2f}"


def test_lsh_high_recall_on_clustered_data(spark):
    """Real embedding spaces are clustered; there LSH recall should be
    near-perfect: members of a tight cluster share the bucket."""
    import math
    import random

    rnd = random.Random(7)
    centers = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [x + rnd.gauss(0, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    exact = cosine_topk(df.where(F.col("vec_id") < 4), df, k=5)
    approx = rp_lsh_topk(df.where(F.col("vec_id") < 4), df, k=5, dim=16, n_planes=4)
    e = {(r.qid, r.nid) for r in exact.collect()}
    a = {(r.qid, r.nid) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9


def test_cosine_near_dup_lsh_recall(spark, sf_dir_mid):
    from iot_sensor_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs

    emb = load_table(spark, sf_dir_mid, "embeddings")
    exact = {(r.i, r.j) for r in cosine_near_dup_pairs(emb, 0.4).collect()}
    approx = {(r.i, r.j) for r in cosine_near_dup_pairs(emb, 0.4, n_planes=6, n_tables=6, dim=64).collect()}
    assert exact
    assert approx <= exact  # candidates are exactly re-scored
    # 6 independent tables amplify per-table ~30% recall at theta~63deg
    # to 1-(1-p)^6 — expect the large majority of true pairs
    assert len(approx & exact) / len(exact) >= 0.7


def test_cosine_near_dup_bucket_freq_guard(spark):
    """Round 5: max_bucket_freq bounds a flooded LSH bucket (dense
    cluster / duplicated embedding) — the RP-LSH analogue of
    max_shingle_freq. A 300-copy identical vector floods every table's
    bucket and is dropped under the cap; an unrelated near pair in
    small buckets survives with its exact score."""
    import math

    from iot_sensor_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    dim = 16
    dup = [1.0] + [0.0] * (dim - 1)
    a = [0.0, 1.0] + [0.0] * (dim - 2)
    b = [0.0, math.cos(0.3), math.sin(0.3)] + [0.0] * (dim - 3)  # ~0.955 cos
    rows = [(i, dup) for i in range(300)] + [(1000, a), (1001, b)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    unguarded = cosine_near_dup_pairs(df, 0.9, n_planes=4, n_tables=4, dim=dim)
    guarded = cosine_near_dup_pairs(
        df, 0.9, n_planes=4, n_tables=4, dim=dim, max_bucket_freq=50
    )
    # the duplicate cluster is quadratic without the guard...
    assert unguarded.count() == 300 * 299 // 2 + 1
    # ...and dropped with it, while the small-bucket pair survives
    got = {(r.i, r.j): r.score for r in guarded.collect()}
    assert set(got) == {(1000, 1001)}
    assert abs(got[(1000, 1001)] - round(math.cos(0.3), 6)) < 1e-6


def test_ivf_recall_vs_brute_force(spark, sf_dir_mid):
    from iot_sensor_data_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir_mid, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    e = {(r.qid, r.nid) for r in cosine_topk(queries, emb, k=10).collect()}
    a = {(r.qid, r.nid) for r in ivf_topk(queries, emb, k=10, n_centroids=16, n_probe=4).collect()}
    # probing 4/16 centroids scans ~25% of the corpus; on isotropic
    # data recall tracks the scanned fraction — assert above it
    assert len(e & a) / len(e) >= 0.3


def test_ivf_build_probe_matches_fused_and_bucketed_plan(spark, sf_dir_mid):
    """Round 5: ivf_build + ivf_probe (the build-once/probe-many
    regime) must return exactly what the fused ivf_topk returns for
    the same seed; persisting the posting lists bucketed by cid and
    probing the TABLE must (a) return the same rows and (b) drop the
    index-side exchange from the probe join plan — probe cost never
    reshuffles the corpus."""
    from iot_sensor_data_pipeline_spark.operators.similarity import (
        ivf_build,
        ivf_probe,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir_mid, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)

    fused = {
        (r.qid, r.nid, r.score)
        for r in ivf_topk(queries, emb, k=10, n_centroids=16, n_probe=4).collect()
    }
    assignments, centroids = ivf_build(emb, n_centroids=16)
    split = {
        (r.qid, r.nid, r.score)
        for r in ivf_probe(queries, assignments, centroids, k=10, n_probe=4).collect()
    }
    assert split == fused and fused

    spark.sql("DROP TABLE IF EXISTS b_ivf_postings")
    (
        assignments.write.format("parquet")
        .bucketBy(8, "cid")
        .sortBy("cid")
        .saveAsTable("b_ivf_postings")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        table = spark.table("b_ivf_postings")
        from_table = ivf_probe(queries, table, centroids, k=10, n_probe=4)
        # plan shape FIRST, on the fresh (pre-AQE-finalization) plan —
        # collect() rewrites the string with materialized query stages
        table_plan = from_table._jdf.queryExecution().executedPlan().toString()
        plain_plan = (
            ivf_probe(queries, assignments, centroids, k=10, n_probe=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the index side reads pre-bucketed (no exchange): exactly one
        # fewer hash exchange than probing the plain relation
        assert "Bucketed: true" in table_plan
        n_plain = plain_plan.count("Exchange hashpartitioning")
        n_table = table_plan.count("Exchange hashpartitioning")
        assert n_table == n_plain - 1, (n_plain, n_table)

        assert {
            (r.qid, r.nid, r.score) for r in from_table.collect()
        } == fused
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_ivf_postings")


def test_ivf_assign_incremental_append(spark, sf_dir_mid):
    """Round 5: new vectors join the index via ivf_assign (no retrain,
    no touch of indexed rows) — assignment agrees with what ivf_build
    would produce for the same centroids, and a probe over the merged
    posting lists finds the appended vectors."""
    from iot_sensor_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_build,
        ivf_probe,
    )

    emb = load_table(spark, sf_dir_mid, "embeddings")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)

    assignments, centroids = ivf_build(old, n_centroids=8)
    delta = ivf_assign(new, centroids)

    # same assignment function: re-assigning the OLD vectors matches
    # the build output exactly
    rebuilt = {(r.nid, r.cid) for r in ivf_assign(old, centroids).collect()}
    built = {(r.nid, r.cid) for r in assignments.collect()}
    assert rebuilt == built

    # probing the merged index with a new vector's own embedding must
    # return that vector as a (trivially) similar neighbor of others:
    # every query finds k neighbors from the union, including new ids
    merged = assignments.unionByName(delta)
    queries = new.where(F.col("vec_id") % 50 == 1).limit(5)
    got = ivf_probe(queries, merged, centroids, k=5, n_probe=8).collect()
    assert got
    assert {r.nid % 2 for r in got} == {0, 1}  # both halves reachable


def test_rp_lsh_build_probe_matches_fused_and_bucketed_plan(spark, sf_dir_mid):
    """Round 5: the RP-LSH build/probe split mirrors the IVF one —
    split == fused for the same parameters; a bucket-table index probes
    with the index-side exchange gone; recommended_n_planes encodes the
    docstring sizing rule."""
    from iot_sensor_data_pipeline_spark.operators.similarity import (
        recommended_n_planes,
        rp_lsh_build,
        rp_lsh_probe,
        rp_lsh_topk,
    )

    assert recommended_n_planes(2_000, 64) == 5
    assert recommended_n_planes(20_000, 64) == 9
    assert recommended_n_planes(1, 64) == 1

    emb = load_table(spark, sf_dir_mid, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)

    fused = {
        (r.qid, r.nid, r.score)
        for r in rp_lsh_topk(queries, emb, k=10, dim=64, n_planes=5).collect()
    }
    index = rp_lsh_build(emb, dim=64, n_planes=5)
    split = {
        (r.qid, r.nid, r.score)
        for r in rp_lsh_probe(queries, index, dim=64, k=10, n_planes=5).collect()
    }
    assert split == fused and fused

    spark.sql("DROP TABLE IF EXISTS b_lsh_buckets")
    (
        index.write.format("parquet")
        .bucketBy(8, "bucket")
        .sortBy("bucket")
        .saveAsTable("b_lsh_buckets")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from_table = rp_lsh_probe(
            queries, spark.table("b_lsh_buckets"), dim=64, k=10, n_planes=5
        )
        table_plan = from_table._jdf.queryExecution().executedPlan().toString()
        plain_plan = (
            rp_lsh_probe(queries, index, dim=64, k=10, n_planes=5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in table_plan
        n_plain = plain_plan.count("Exchange hashpartitioning")
        n_table = table_plan.count("Exchange hashpartitioning")
        assert n_table == n_plain - 1, (n_plain, n_table)
        assert {
            (r.qid, r.nid, r.score) for r in from_table.collect()
        } == fused
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_lsh_buckets")


def test_gemm_topk_matches_fold_topk(spark, sf_dir_mid):
    from iot_sensor_data_pipeline_spark.operators.similarity import cosine_topk_gemm

    emb = load_table(spark, sf_dir_mid, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    fold = cosine_topk(queries, emb, k=10)
    gemm = cosine_topk_gemm(queries, emb, k=10)
    f = {(r.qid, r.nid): r.score for r in fold.collect()}
    g = {(r.qid, r.nid): r.score for r in gemm.collect()}
    assert set(f) == set(g)  # identical neighbor sets + ranking survivors
    assert all(abs(f[p] - g[p]) < 1e-5 for p in f)  # scores agree to rounding


def test_l2_kernel_ragged_batches():
    """The pandas-UDF L2 kernel must be exact on ragged Arrow batches,
    including zero-length vectors in every position (the trailing-empty
    case truncated the previous segment's sum before the pad fix)."""
    import math

    import pandas as pd

    from iot_sensor_data_pipeline_spark.plans.queries_pipeline import _l2_kernel

    cases = [
        ([[3.0, 4.0], []], [5.0, 0.0]),  # trailing empty — the repro
        ([[], [3.0, 4.0]], [0.0, 5.0]),  # leading empty
        ([[1.0], [], [2.0, 2.0, 1.0]], [1.0, 0.0, 3.0]),  # middle empty
        ([[], [], []], [0.0, 0.0, 0.0]),  # all empty
        ([[6.0, 8.0]], [10.0]),  # single
        ([], []),  # empty batch
        ([[1.0, 2.0, 2.0], [2.0, 3.0, 6.0]], [3.0, 7.0]),  # fixed-dim fast path
    ]
    for vecs, want in cases:
        got = _l2_kernel(pd.Series(vecs)).tolist()
        assert len(got) == len(want)
        assert all(math.isclose(g, w, abs_tol=1e-12) for g, w in zip(got, want)), (vecs, got)


def test_lsh_self_bucket_sanity(spark):
    # a vector is always a candidate of an identical query vector
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = rp_lsh_topk(df, df, k=3, dim=8, n_planes=4)
    assert out.count() > 0


def test_ivf_recall_large_quantizer(spark, sf_dir_mid):
    """A 256-centroid quantizer exercises the Arrow GEMM assignment
    at the width that killed the old literal-expression path
    (closure-shipped centroid matrix, no literal expression blowup);
    recall must still clear the scanned-fraction floor. 256 centroids
    over 500 vectors makes most lists singletons, so probe wide to
    keep the scanned fraction comparable."""
    from iot_sensor_data_pipeline_spark.operators.similarity import ivf_topk
    emb = load_table(spark, sf_dir_mid, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    e = {(r.qid, r.nid) for r in cosine_topk(queries, emb, k=10).collect()}
    a = {
        (r.qid, r.nid)
        for r in ivf_topk(queries, emb, k=10, n_centroids=256, n_probe=64).collect()
    }
    assert len(e & a) / len(e) >= 0.3


def test_ivf_small_and_large_paths_agree_on_exhaustive_probe(spark, sf_dir_mid):
    """Probing EVERY centroid makes IVF exact regardless of the
    assignment implementation — both paths must return the brute-force
    ids (the literal expression and the GEMM kernel assign via the
    same (distance, cid) order)."""
    from iot_sensor_data_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir_mid, "embeddings").where(F.col("vec_id") < 200)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    e = {(r.qid, r.nid) for r in cosine_topk(queries, emb, k=5).collect()}
    small = {
        (r.qid, r.nid)
        for r in ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=8).collect()
    }
    large = {
        (r.qid, r.nid)
        for r in ivf_topk(queries, emb, k=5, n_centroids=40, n_probe=40).collect()
    }
    assert small == e
    assert large == e


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup)
# ---------------------------------------------------------------------------


def _clustered_embeddings(spark, n_centers=5, per_center=40, dim=16, noise=0.03):
    import random

    rnd = random.Random(11)
    centers = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(n_centers)]
    rows = []
    for i in range(n_centers * per_center):
        c = centers[i % n_centers]
        rows.append((i, [x + rnd.gauss(0, noise) for x in c]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_exact_groups_and_keeps_min(spark):
    """Tight noise copies of each center form one group; the kept
    representative is the minimum id; transitive chains collapse."""
    from iot_sensor_data_pipeline_spark.operators.similarity import semantic_dedup

    df = _clustered_embeddings(spark)
    out = semantic_dedup(df, threshold=0.95).collect()
    by_id = {r.id: r for r in out}
    assert len(by_id) == 200
    # 5 semantic groups, representatives = ids 0..4 (min of each i%5 class)
    clusters = {r.cluster for r in out}
    assert clusters == {0, 1, 2, 3, 4}
    kept = sorted(r.id for r in out if r.kept == 1)
    assert kept == [0, 1, 2, 3, 4]
    for r in out:
        assert r.cluster == r.id % 5


def test_semantic_dedup_clustered_mode_matches_exact_on_separated_data(spark):
    """The k-means-partitioned scale mode finds the same groups as the
    exact mode when the quantizer separates the semantic clusters —
    the SemDeDup operating regime."""
    from iot_sensor_data_pipeline_spark.operators.similarity import semantic_dedup

    df = _clustered_embeddings(spark)
    exact = {(r.id, r.cluster, r.kept) for r in semantic_dedup(df, threshold=0.95).collect()}
    approx = {
        (r.id, r.cluster, r.kept)
        for r in semantic_dedup(df, threshold=0.95, n_clusters=5).collect()
    }
    assert approx == exact


def test_semantic_dedup_no_pairs_keeps_everything(spark):
    from iot_sensor_data_pipeline_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(df, threshold=0.9).collect()
    assert all(r.kept == 1 and r.cluster == r.id for r in out)


def test_semantic_dedup_max_cluster_size_guard(spark):
    """A flooded quantizer cell is dropped from pair generation: its
    members are all kept (recall trade), instead of a quadratic
    self-join on the degenerate cluster."""
    from iot_sensor_data_pipeline_spark.operators.similarity import semantic_dedup

    df = _clustered_embeddings(spark, n_centers=2, per_center=50)
    out = semantic_dedup(
        df, threshold=0.95, n_clusters=2, max_cluster_size=10
    ).collect()
    # both clusters exceed the cap -> no pairs anywhere -> all kept
    assert all(r.kept == 1 for r in out)


# ---------------------------------------------------------------------------
# ann_recall_report
# ---------------------------------------------------------------------------


def test_ann_recall_report_goldens(spark):
    from iot_sensor_data_pipeline_spark.operators.similarity import (
        ann_recall_report,
    )

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "qid long, nid long"
    )
    variants = {
        # identical -> 1.0; q1 half right + q2 nothing -> macro .25,
        # micro .25; duplicate rows in a variant must not double-count
        "perfect": truth,
        "half_q1": spark.createDataFrame(
            [(1, 10), (1, 99), (1, 10)], "qid long, nid long"
        ),
        "empty": spark.createDataFrame([], "qid long, nid long"),
    }
    rep = {r.variant: r for r in ann_recall_report(truth, variants).collect()}
    assert rep["perfect"].macro_recall == 1.0
    assert rep["perfect"].micro_recall == 1.0
    assert rep["perfect"].n_queries == 2 and rep["perfect"].n_truth_rows == 4
    assert rep["half_q1"].macro_recall == 0.25
    assert rep["half_q1"].micro_recall == 0.25
    assert rep["empty"].macro_recall == 0.0

    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        ann_recall_report(truth, {})


def test_ann_recall_report_on_real_variants(spark, sf_dir_mid):
    """Exhaustive-probe IVF must score EXACTLY 1.0 (probing every
    centroid is brute force); the approximate variants land in (0, 1]
    and brute-force-vs-itself pins the harness end-to-end."""
    from iot_sensor_data_pipeline_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        ivf_topk,
        rp_lsh_topk,
    )

    emb = load_table(spark, sf_dir_mid, "embeddings").where(F.col("vec_id") < 300)
    queries = emb.where(F.col("vec_id") < 20)
    truth = cosine_topk(queries, emb, k=10).persist()
    variants = {
        "ivf_full_probe": ivf_topk(
            queries, emb, k=10, n_centroids=8, n_probe=8, seed=7
        ),
        "ivf_p2": ivf_topk(queries, emb, k=10, n_centroids=8, n_probe=2, seed=7),
        "rp_lsh": rp_lsh_topk(queries, emb, k=10, dim=64, n_planes=4),
    }
    rep = {r.variant: r for r in ann_recall_report(truth, variants).collect()}
    truth.unpersist()
    assert rep["ivf_full_probe"].macro_recall == 1.0
    assert 0.0 < rep["ivf_p2"].macro_recall <= 1.0
    assert 0.0 < rep["rp_lsh"].macro_recall <= 1.0
    # pruning can only lose neighbors, never gain
    assert rep["ivf_p2"].macro_recall <= rep["ivf_full_probe"].macro_recall
