"""Product quantization (operators/quantization.py): exactness when
vectors live on the codebook grid, recall vs exact brute force on
clustered data, append-only encode, and the guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.operators.quantization import (
    pq_encode,
    pq_topk,
    pq_train,
)


def _exact_topk(vectors: dict, queries: dict, k: int):
    """Brute-force squared-L2 top-k reference (python)."""
    out = {}
    for qid, q in queries.items():
        scored = sorted(
            (sum((a - b) ** 2 for a, b in zip(q, v)), nid)
            for nid, v in vectors.items()
        )
        out[qid] = [nid for _, nid in scored[:k]]
    return out


def test_pq_adc_exact_on_codebook_grid(spark):
    """With hand-built codebooks and vectors drawn EXACTLY from
    products of codebook entries, encoding is lossless and ADC
    distance equals the true squared-L2 — top-k matches brute force
    exactly."""
    import itertools
    import random

    # 2 subspaces x 2 dims, 3 centroids each — 9 grid points
    codebooks = [
        [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]],
        [[5.0, 5.0], [-5.0, 5.0], [0.0, -5.0]],
    ]
    grid = [
        c1 + c2 for c1, c2 in itertools.product(codebooks[0], codebooks[1])
    ]
    vectors = {i: v for i, v in enumerate(grid)}
    corpus = spark.createDataFrame(
        [(i, v) for i, v in vectors.items()], "vec_id long, embedding array<double>"
    )
    codes = pq_encode(corpus, codebooks)
    rnd = random.Random(3)
    queries = {
        100 + i: [x + rnd.uniform(-1, 1) for x in grid[i]] for i in range(4)
    }
    qdf = spark.createDataFrame(
        [(i, v) for i, v in queries.items()], "vec_id long, embedding array<double>"
    )
    got = pq_topk(qdf, codes, codebooks, k=3)
    got_ids = {}
    for r in got.orderBy("qid", "rn").collect():
        got_ids.setdefault(r.qid, []).append(r.nid)
    assert got_ids == _exact_topk(vectors, queries, 3)


def test_pq_trained_recall_on_clustered_embeddings(spark):
    """Trained codebooks on clustered data: recall@10 of the true
    nearest neighbors stays high even at 16x compression (d=32
    doubles -> m=4 codes)."""
    import random

    rnd = random.Random(7)
    d, n_clusters = 32, 12
    centers = [
        [rnd.uniform(-10, 10) for _ in range(d)] for _ in range(n_clusters)
    ]
    vectors = {}
    for i in range(600):
        c = centers[i % n_clusters]
        vectors[i] = [x + rnd.gauss(0, 0.8) for x in c]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in vectors.items()], "vec_id long, embedding array<double>"
    )
    codebooks = pq_train(corpus, m=4, k=64, sample_rows=600, iters=10)
    assert len(codebooks) == 4 and len(codebooks[0][0]) == 8
    codes = pq_encode(corpus, codebooks)
    queries = {1000 + i: [x + rnd.gauss(0, 0.3) for x in vectors[i]] for i in range(20)}
    qdf = spark.createDataFrame(
        [(i, v) for i, v in queries.items()], "vec_id long, embedding array<double>"
    )
    want = _exact_topk(vectors, queries, 10)

    def recall_of(df):
        got_ids = {}
        for r in df.collect():
            got_ids.setdefault(r.qid, set()).add(r.nid)
        hits = sum(len(got_ids[q] & set(w)) for q, w in want.items())
        return hits / sum(len(w) for w in want.values()), got_ids

    # pure ADC: compressed distances blur fine ranking — recall is
    # real but modest (that's the compression trade)
    adc_recall, adc_ids = recall_of(pq_topk(qdf, codes, codebooks, k=10))
    assert adc_recall >= 0.35, adc_recall
    # the near-duplicate seed vector is essentially always recovered
    assert sum(1 for q in queries if (q - 1000) in adc_ids[q]) >= 18
    # ADC shortlist + exact re-rank (raw vectors fetched for the
    # shortlist only): recall goes high
    refined_recall, _ = recall_of(
        pq_topk(qdf, codes, codebooks, k=10, refine=corpus, shortlist_factor=5)
    )
    assert refined_recall >= 0.9, refined_recall
    assert refined_recall >= adc_recall


def test_pq_append_only_encode_matches_full(spark):
    """New vectors encoded against pinned codebooks equal a full
    re-encode — the append-only index property."""
    import random

    rnd = random.Random(5)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    codebooks = pq_train(df, m=4, k=16, sample_rows=200, iters=8)
    old = pq_encode(df.where(F.col("vec_id") < 150), codebooks)
    new = pq_encode(df.where(F.col("vec_id") >= 150), codebooks)
    full = pq_encode(df, codebooks)
    inc = {r.nid: r.codes for r in old.unionByName(new).collect()}
    ful = {r.nid: r.codes for r in full.collect()}
    assert inc == ful


def test_pq_guards(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, k=4)
    empty = df.where(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty corpus"):
        pq_train(empty, m=3, k=4)
    books = [[[0.0]], [[0.0]], [[0.0]]]
    with pytest.raises(ValueError, match="k must be"):
        pq_topk(df, pq_encode(df, books), books, k=0)
    with pytest.raises(ValueError, match="empty query"):
        pq_topk(empty, pq_encode(df, books), books, k=1)


def test_pq_topk_tie_determinism_across_partitionings(spark):
    """Duplicate corpus vectors create exact ADC-distance ties; the
    per-batch shortlist must break them by nid so the result is
    identical no matter how rows land in Arrow batches."""
    codebooks = [
        [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]],
        [[5.0, 5.0], [-5.0, 5.0], [0.0, -5.0]],
    ]
    base = [0.0, 0.0, 5.0, 5.0]
    # 40 identical vectors (all ties) + a few distinct ones
    rows = [(i, base) for i in range(40)] + [
        (100, [10.0, 0.0, 5.0, 5.0]),
        (101, [0.0, 10.0, 0.0, -5.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame([(0, base)], "vec_id long, embedding array<double>")

    def run(npart):
        codes = pq_encode(corpus, codebooks).repartition(npart)
        df = pq_topk(queries, codes, codebooks, k=5)
        return [(r["qid"], r["nid"], r["dist"]) for r in
                df.orderBy("qid", "dist", "nid").collect()]

    a, b = run(1), run(7)
    assert a == b
    # ties resolved toward the smallest nids
    assert [n for _, n, _ in a] == [0, 1, 2, 3, 4]


def test_ivfpq_topk_blocked_agrees_with_cell_restricted_pq_topk(spark):
    """The pruned no-collect path (distributed probe assignment +
    per-cell cogroup tiles) returns the IDENTICAL (qid, nid, dist, rn)
    relation as the unpruned pq_topk over exactly the cells each query
    probes — pure ADC and with exact re-rank — across q_blocks counts
    that do and don't divide the query set."""
    import random

    from iot_sensor_data_pipeline_spark.operators.quantization import (
        ivfpq_topk_blocked,
    )
    from iot_sensor_data_pipeline_spark.operators.similarity import ivf_build

    rnd = random.Random(13)
    d, n_clusters = 16, 6
    centers = [[rnd.uniform(-20, 20) for _ in range(d)] for _ in range(n_clusters)]
    vecs = [
        (i, [x + rnd.gauss(0, 0.5) for x in centers[i % n_clusters]])
        for i in range(360)
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    assignments, centroids = ivf_build(corpus, n_centroids=n_clusters)
    books = pq_train(corpus, m=4, k=32, sample_rows=360, iters=8)
    codes = (
        pq_encode(corpus, books)
        .join(assignments.select("cid", "nid"), "nid")
        .localCheckpoint()
    )
    qrows = [(1000 + i, [x + rnd.gauss(0, 0.3) for x in v]) for i, v in vecs[:40]]
    queries = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")

    def rel(df):
        return sorted((r.qid, r.nid, r.dist, r.rn) for r in df.collect())

    # each query's n_probe=2 nearest cells, (distance, cid) ties
    probed = {}
    for qid, v in qrows:
        d2 = sorted(
            (sum((a - b) ** 2 for a, b in zip(v, c)), cid) for cid, c in enumerate(centroids)
        )
        probed[qid] = {cid for _, cid in d2[:2]}
    cell = {r.nid: r.cid for r in codes.select("nid", "cid").collect()}
    # every (query, code) pair's ADC and exact re-ranked distance, from
    # pq_topk over the whole code table
    flat = codes.select("nid", "codes")
    n = len(vecs)
    adc = {(r.qid, r.nid): r.dist for r in pq_topk(queries, flat, books, k=n).collect()}
    exact = {
        (r.qid, r.nid): r.dist
        for r in pq_topk(queries, flat, books, k=n, refine=corpus, shortlist_factor=1).collect()
    }

    def restricted(dist, shortlist):
        """pq_topk's ranking over the query's probed cells only."""
        out = []
        for qid, cells in probed.items():
            cands = sorted((adc[qid, nid], nid) for nid, cid in cell.items() if cid in cells)
            top = sorted((dist[qid, nid], nid) for _, nid in cands[:shortlist])[:5]
            out += [(qid, nid, d, rn) for rn, (d, nid) in enumerate(top, 1)]
        return sorted(out)

    want_adc = restricted(adc, 5)
    want_ref = restricted(exact, 5 * 4)
    for qb in (1, 3, 4):
        got = rel(
            ivfpq_topk_blocked(
                queries, codes, books, centroids, k=5, n_probe=2, q_blocks=qb
            )
        )
        assert got == want_adc, qb
    got_ref = rel(
        ivfpq_topk_blocked(
            queries, codes, books, centroids, k=5, n_probe=2,
            refine=corpus, shortlist_factor=4, q_blocks=3,
        )
    )
    assert got_ref == want_ref


def test_ivfpq_topk_blocked_probes_all_cells_when_n_probe_exceeds(spark):
    """n_probe >= n_cells degenerates to exact ADC over every cell —
    results equal the unpruned pq_topk ranking."""
    import random

    from iot_sensor_data_pipeline_spark.operators.quantization import (
        ivfpq_topk_blocked,
    )
    from iot_sensor_data_pipeline_spark.operators.similarity import ivf_build

    rnd = random.Random(5)
    vecs = [(i, [rnd.uniform(-5, 5) for _ in range(8)]) for i in range(120)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    assignments, centroids = ivf_build(corpus, n_centroids=4)
    books = pq_train(corpus, m=2, k=16, sample_rows=120, iters=6)
    codes = pq_encode(corpus, books).join(assignments.select("cid", "nid"), "nid")
    queries = spark.createDataFrame(vecs[:10], "vec_id long, embedding array<double>")
    full = pq_topk(queries, codes.select("nid", "codes"), books, k=4)
    pruned = ivfpq_topk_blocked(
        queries, codes, books, centroids, k=4, n_probe=99, q_blocks=2
    )
    assert sorted((r.qid, r.nid, r.dist, r.rn) for r in full.collect()) == sorted(
        (r.qid, r.nid, r.dist, r.rn) for r in pruned.collect()
    )


def test_ivfpq_topk_blocked_guards(spark):
    from iot_sensor_data_pipeline_spark.operators.quantization import (
        ivfpq_topk_blocked,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    books = [[[0.0]], [[0.0]]]
    codes = pq_encode(df, books).withColumn("cid", F.lit(0))
    ctr = [[0.0, 0.0]]
    with pytest.raises(ValueError, match="k must be"):
        ivfpq_topk_blocked(df, codes, books, ctr, k=0)
    with pytest.raises(ValueError, match="n_probe"):
        ivfpq_topk_blocked(df, codes, books, ctr, k=1, n_probe=0)
    with pytest.raises(ValueError, match="q_blocks"):
        ivfpq_topk_blocked(df, codes, books, ctr, k=1, q_blocks=0)
