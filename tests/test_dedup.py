"""Sketch-based dedup correctness: MinHash-LSH recall vs exact Jaccard
pairs, SimHash behavior on near-identical documents, exact dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_near_pairs,
)
from iot_sensor_data_pipeline_spark.sources.tables import load_table


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")], "id int, text string"
    )
    out = {r.text: (r.keeper_id, r.n_copies) for r in dedup_exact(df, ["text"], "id").collect()}
    assert out == {"aa": (1, 3), "bb": (2, 1)}


def test_shingles_basic(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    got = sorted(r.shingle for r in shingles(df, "id", "text", n=3).collect())
    assert got == ["a b c", "b c d"]


def test_shingle_freq_cap_drops_boilerplate(spark):
    df = spark.createDataFrame(
        [(i, "common boiler plate " + w) for i, w in enumerate(["x y z", "p q r", "m n o"])],
        "id int, text string",
    )
    capped = shingles(df, "id", "text", n=3, max_shingle_freq=2)
    # 'common boiler plate' appears in all 3 docs -> dropped by cap=2
    assert "common boiler plate" not in {r.shingle for r in capped.collect()}


def test_dedup_incremental_flow(spark):
    from iot_sensor_data_pipeline_spark.operators.dedup import dedup_incremental

    seen = spark.createDataFrame([("x",)], "text string").select(F.md5("text").alias("fp"))
    batch = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "y"), (4, "z")], "id int, text string"
    )
    fresh, delta = dedup_incremental(batch, seen, "id", "text")
    rows = {r.id: r.text for r in fresh.collect()}
    # "x" already seen; "y" deduped within batch to min id; "z" new
    assert rows == {2: "y", 4: "z"}
    assert delta.count() == 2  # fingerprints of y and z to append

    # second increment against the updated seen table: nothing fresh
    seen2 = seen.unionByName(delta)
    fresh2, _ = dedup_incremental(batch, seen2, "id", "text")
    assert fresh2.count() == 0


def test_minhash_lsh_recall_vs_exact(spark, sf_dir_mid):
    """The LSH pipeline must recover nearly all exact Jaccard>=0.2 pairs
    (banding probability at t=0.2, r=2, b=32 is ~0.73; at the observed
    pair similarities — mostly >=0.5 — it is >0.9999)."""
    docs = load_table(spark, sf_dir_mid, "documents")
    exact = {
        (r.i, r.j)
        for r in ngram_jaccard_pairs(shingles(docs, "doc_id", "text"), 0.2).collect()
    }
    approx = {(r.i, r.j) for r in minhash_dedup_pairs(docs, "doc_id", "text", 0.2).collect()}
    assert exact, "fixture should contain near-duplicate documents"
    # precision is exact by construction (candidates are verified)
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} ({len(approx)}/{len(exact)})"


def test_simhash_near_pairs_on_synthetic_neardups(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today " * 4
    rows = [
        (1, base),
        (2, base.replace("river", "ocean")),   # 1-token change -> tiny hamming
        (3, "completely different content about spark catalyst optimizer plans joins"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    sim = simhash(df, "id", "text")
    # one token changed out of ~14 distinct -> hamming ~5; unrelated ~29
    pairs = {(r.i, r.j) for r in simhash_near_pairs(sim, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_pigeonhole_guard(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "id int, text string")
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(simhash(df, "id", "text"), max_hamming=8, n_chunks=4)


def test_simhash_chunk_freq_guard_bounds_degenerate_buckets(spark):
    """VERDICT r04 #3: a chunk value shared by a huge document group
    (e.g. the all-zeros chunks short docs produce) makes that bucket's
    self-join quadratic; ``max_chunk_freq`` drops such buckets. The
    degenerate cluster's pairs are the documented recall loss; pairs
    whose shared chunks live in small buckets are unaffected."""
    # 300 ids with simhash=0 -> every chunk bucket holds 300 members
    # (44 850 candidate pairs x 4 chunks without the guard); one true
    # near pair at hamming 1 in a distinct region of the hash space
    degenerate = [(i, 0) for i in range(300)]
    a = -(2**63) + (0b1011 << 20)          # arbitrary non-zero pattern
    near = [(1000, a), (1001, a ^ (1 << 40))]  # hamming 1
    df = spark.createDataFrame(degenerate + near, "id long, simhash long")

    unguarded = simhash_near_pairs(df, max_hamming=3)
    guarded = simhash_near_pairs(df, max_hamming=3, max_chunk_freq=50)

    got = {(r.i, r.j): r.hamming for r in guarded.collect()}
    # the small-bucket pair survives; the degenerate cluster is dropped
    assert got == {(1000, 1001): 1}
    # sanity: without the guard the degenerate cluster IS quadratic
    assert unguarded.count() == 300 * 299 // 2 + 1


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame([(1, "same text here"), (2, "same text here")], "id int, text string")
    pairs = simhash_near_pairs(simhash(df, "id", "text"), max_hamming=0).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 0


def test_duplicate_clusters_chain_converges(spark):
    """A pure chain (worst-case diameter) resolves to one cluster with
    min-id labels when the iteration budget covers the diameter."""
    from iot_sensor_data_pipeline_spark.operators.dedup import duplicate_clusters

    n = 12
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "i long, j long")
    got = duplicate_clusters(ids, pairs, max_iterations=n)
    assert {(r.id, r.cluster) for r in got.collect()} == {(i, 0) for i in range(n)}


def test_duplicate_clusters_nonconvergence_raises(spark):
    """ADVICE r01 #3 guard: a component whose diameter exceeds the
    budget must RAISE, not silently return split clusters."""
    import pytest

    from iot_sensor_data_pipeline_spark.operators.dedup import duplicate_clusters

    n = 12  # chain diameter 11 > 3 iterations
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "i long, j long")
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(ids, pairs, max_iterations=3)


def test_shingles_short_docs_empty_not_error(spark):
    """Docs with fewer than n words yield zero shingles (sequence(1,0)
    would otherwise DESCEND and slice(words, 0, n) is a runtime error
    — latent on long-doc corpora, guaranteed at 100 TB)."""
    from iot_sensor_data_pipeline_spark.operators.dedup import shingles

    rows = [(0, "x"), (1, "two words"), (2, "now three words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = shingles(df, "doc_id", "text", n=3).collect()
    assert {r.id for r in got} == {2}


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_estimated_jaccard_identical_and_disjoint(spark):
    from iot_sensor_data_pipeline_spark.operators.dedup import (
        estimated_jaccard_pairs,
        hashed_shingles,
        minhash_signatures,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # identical
        (2, "one two three four five six seven eight nine"),   # disjoint
    ]
    sigs = minhash_signatures(hashed_shingles(_mk_docs(spark, rows), "doc_id", "text", n=3))
    cand = spark.createDataFrame([(0, 1), (0, 2)], "i long, j long")
    got = {
        (r.i, r.j): r.est_jaccard
        for r in estimated_jaccard_pairs(cand, sigs, sigs, threshold=0.0).collect()
    }
    assert got[(0, 1)] == 1.0   # identical docs agree on every component
    assert got[(0, 2)] < 0.2    # disjoint shingle sets barely agree


def test_duplicate_clusters_star_matches_union_find(spark):
    """large-star/small-star CC vs an independent python union-find on
    pseudo-random graphs (multiple densities, isolated nodes, chains
    merging into one component)."""
    import random

    from iot_sensor_data_pipeline_spark.operators.dedup import duplicate_clusters_star

    for seed, n, m in ((1, 60, 40), (2, 80, 120), (3, 50, 10)):
        rng = random.Random(seed)
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edge_list = [(a, b) for a, b in edge_list if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # cluster id = min member id (union always hangs larger root
        # under smaller, so find() after the full pass IS the min)
        want = {i: find(i) for i in range(n)}

        ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pairs = spark.createDataFrame(edge_list or [(0, 0)], "i long, j long")
        got = {
            r.id: r.cluster
            for r in duplicate_clusters_star(ids, pairs).collect()
        }
        assert got == want, f"seed={seed}"


def test_duplicate_clusters_star_deep_chain_logarithmic_rounds(spark):
    """A 200-node path has diameter 199: min-label propagation raises
    within a 15-round budget, while the star algorithm converges (its
    round count is O(log^2 n), independent of diameter) — the reason
    it is the scale path for chainy graphs."""
    import pytest

    from iot_sensor_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
        duplicate_clusters_star,
    )

    n = 200
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "i long, j long")

    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(ids, chain, max_iterations=15)

    got = {r.id: r.cluster for r in duplicate_clusters_star(ids, chain, max_iterations=15).collect()}
    assert got == {i: 0 for i in range(n)}


def test_duplicate_clusters_star_ignores_unknown_ids(spark):
    """Contract parity with duplicate_clusters: pairs referencing ids
    absent from `ids` must not bridge components or leak foreign
    cluster labels."""
    from iot_sensor_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
        duplicate_clusters_star,
    )

    ids = spark.createDataFrame([(1,), (2,)], "id long")
    pairs = spark.createDataFrame([(1, 0), (0, 2)], "i long, j long")
    want = {r.id: r.cluster for r in duplicate_clusters(ids, pairs).collect()}
    got = {r.id: r.cluster for r in duplicate_clusters_star(ids, pairs).collect()}
    assert got == want == {1: 1, 2: 2}


def test_recursive_cte_surface_and_its_limit(spark):
    """Spark 4.1 runs WITH RECURSIVE (acyclic/bounded recursion —
    pinned here on a series expansion), but only UNION ALL is allowed
    in the recursive member, so the CYCLIC transitive closure that
    duplicate clustering needs (symmetric edge sets) cannot terminate
    as a recursive CTE — the DuckDB oracle's UNION-based reachability
    raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE. Recorded so future
    rounds keep the iterative operators (duplicate_clusters /
    duplicate_clusters_star) as the clustering path instead of
    retrying the SQL formulation."""
    import pytest as _pytest

    got = spark.sql(
        """
WITH RECURSIVE r(n) AS (
  SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 10
)
SELECT sum(n) AS s FROM r"""
    ).collect()
    assert got[0].s == 55

    spark.createDataFrame([(1, 2), (2, 1)], "a long, b long").createOrReplaceTempView(
        "__rc_edges"
    )
    with _pytest.raises(Exception, match="UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE"):
        spark.sql(
            """
WITH RECURSIVE reach(id, r) AS (
  SELECT a, a FROM __rc_edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN __rc_edges e ON e.a = reach.id
)
SELECT count(*) FROM reach"""
        ).collect()
