"""Product quantization (PQ): compressed vector search for corpora
whose raw embeddings don't fit the cluster's memory budget.

A d-dim float64 vector costs 8d bytes; its PQ code costs m small ints
(one per subspace) — 64x compression at d=64, m=8. The index is built
once (train sub-codebooks, encode every vector), and queries run
ASYMMETRIC DISTANCE COMPUTATION (ADC, Jegou et al. 2011): the query
stays exact, each subspace contributes a looked-up distance from a
per-query table, so scoring a candidate is m array lookups — no
per-candidate float vector is ever read, shuffled, or decompressed.

Division of labor with the other ANN operators (similarity.py): IVF /
RP-LSH shrink HOW MANY candidates are scored; PQ shrinks WHAT a
candidate costs (bytes + FLOPs). At 100 TB you compose them — bucket
the PQ codes by IVF cell and ADC-scan only probed cells; each piece
here is that composition's building block.

Scale shape: training is driver-side numpy over a CAPPED sample
(constant cost in corpus size — same policy as ivf_build's quantizer);
encoding is one vectorized mapInPandas scan (GEMM per subspace);
search broadcasts the per-query LUTs (nq x m x k doubles — driver-small
query regime, same documented contract as cosine_topk_gemm) and scans
ONLY the code relation with per-partition top-k partials, so the full
corpus of raw vectors is never touched at query time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.operators.similarity import as_double_array


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    seed: int = 42,
    iters: int = 15,
) -> list[list[list[float]]]:
    """Train the m per-subspace codebooks (k centroids each) with
    driver-side Lloyd's over a capped sample. Returns nested python
    floats ``codebooks[m][k][d/m]`` — driver-small (m * k * d/m
    doubles), persist as JSON next to the code table and pass to
    :func:`pq_encode` / :func:`pq_topk`; like an IVF quantizer or a
    sketch's lg_k, the codebooks are pinned for the index's lifetime.

    The vector dimension must be divisible by ``m``. ``k`` is clamped
    to the sample size; empty clusters re-seed from a random sample
    point (standard Lloyd's repair). Distances are squared-L2 per
    subspace — for cosine search, L2-normalize vectors before train
    AND encode AND query (then L2^2 = 2 - 2 cos, rank-equivalent).

    The capped sample is drawn by ordering on ``xxhash64(vector)`` —
    a bare ``limit()`` takes the FIRST partitions only, so a corpus
    clustered by date/tenant would train codebooks on a biased slice;
    hash order is layout-independent and deterministic, and
    ``orderBy().limit()`` compiles to ``TakeOrderedAndProject``
    (per-partition top-N heaps, no full sort shuffle).
    """
    import numpy as np

    rows = (
        corpus.select(as_double_array(F.col(vec_col)).alias("v"))
        .orderBy(F.xxhash64(F.col("v")))
        .limit(sample_rows)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: empty corpus")
    X = np.stack([r.v for r in rows])
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    dsub = d // m
    kk = min(k, n)
    rng = np.random.default_rng(seed)
    codebooks = []
    for j in range(m):
        S = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        C = S[rng.choice(n, size=kk, replace=False)].copy()
        s2 = (S * S).sum(1)
        for _ in range(iters):
            # GEMM distance: |x|^2 - 2 x.C^T + |c|^2 (never an
            # (n, k, dsub) broadcast temp)
            d2 = s2[:, None] - 2.0 * (S @ C.T) + (C * C).sum(1)[None, :]
            assign = d2.argmin(1)
            for c in range(kk):
                mask = assign == c
                C[c] = S[mask].mean(0) if mask.any() else S[rng.integers(n)]
        codebooks.append(C.tolist())
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: ``(nid, codes array<int>)`` with
    ``codes[j]`` = index of the nearest subspace-j centroid. One
    vectorized mapInPandas scan (a GEMM per subspace per Arrow batch);
    persist the output — it IS the search index, m ints per vector.
    New vectors encode against the same codebooks (append-only index,
    no retrain)."""
    import numpy as np

    C = np.asarray(codebooks, dtype=np.float64)  # (m, kk, dsub)
    m, _, dsub = C.shape

    def enc(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["__v"].to_numpy())
            b = len(X)
            Xs = X.reshape(b, m, dsub)
            codes = np.empty((b, m), dtype=np.int32)
            for j in range(m):
                S = np.ascontiguousarray(Xs[:, j, :])
                Cj = C[j]
                d2 = (
                    (S * S).sum(1)[:, None]
                    - 2.0 * (S @ Cj.T)
                    + (Cj * Cj).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame({"nid": pdf["nid"], "codes": list(codes)})

    id_type = dict(df.dtypes)[id_col]
    prepared = df.select(
        F.col(id_col).alias("nid"), as_double_array(F.col(vec_col)).alias("__v")
    )
    return prepared.mapInPandas(enc, f"nid {id_type}, codes array<int>")


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    round_dist: int = 6,
    refine: DataFrame | None = None,
    refine_id: str = "vec_id",
    refine_vec: str = "embedding",
    shortlist_factor: int = 5,
) -> DataFrame:
    """ADC top-k over a PQ code table: returns
    ``(qid, nid, dist, rn)`` — the ``k`` approximately-nearest corpus
    codes per query by squared-L2, rank ties broken by nid. ``codes``
    is :func:`pq_encode` output (or the persisted table).

    The query set collects to the driver ONCE (documented driver-small
    regime, as cosine_topk_gemm) and becomes per-query lookup tables
    LUT[q][j][c] = ||q_subj - C[j][c]||^2, broadcast with the task
    closure; each Arrow batch of codes then scores ALL queries with m
    fancy-indexed adds — C speed, bytes read = the code table only.
    Per-partition top-k partials cap the shuffle at
    partitions x queries x k rows; a final per-query window takes the
    exact global top-k of the approximate distances.

    Quantization error blurs fine-grained ranking (that's the
    compression trade), so for high recall pass ``refine`` — the raw
    vector relation: ADC then keeps a ``k * shortlist_factor``
    shortlist and re-ranks it with EXACT squared-L2, fetching raw
    vectors for shortlist rows ONLY (an equi-join on the id — the
    corpus is never scanned at full width; the standard
    PQ-shortlist + exact-rerank design). ``dist`` is then exact for
    the returned rows.
    """
    import numpy as np

    if k < 1:
        raise ValueError("pq_topk: k must be >= 1")
    C = np.asarray(codebooks, dtype=np.float64)  # (m, kk, dsub)
    m, _, dsub = C.shape
    qrows = queries.select(
        F.col(query_id).alias("qid"), as_double_array(F.col(vec_col)).alias("qv")
    ).collect()
    if not qrows:
        raise ValueError("pq_topk: empty query set")
    qids = [r.qid for r in qrows]
    Q = np.stack([r.qv for r in qrows]).reshape(len(qids), m, dsub)
    # LUT: (nq, m, kk) — every subspace distance any candidate can contribute
    lut = ((Q[:, :, None, :] - C[None, :, :, :]) ** 2).sum(-1)
    nq = len(qids)

    qid_type = dict(queries.dtypes)[query_id]
    nid_type = dict(codes.dtypes)["nid"]
    adc_k = k if refine is None else max(k, k * shortlist_factor)
    # per-partition partials keep adc_k per query; `k` inside scan
    # refers to the shortlist size
    k_scan = adc_k

    def scan(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            nids = pdf["nid"].to_numpy()
            B = np.stack(pdf["codes"].to_numpy())
            b = len(nids)
            dist = np.zeros((nq, b))
            for j in range(m):
                dist += lut[:, j, B[:, j]]
            # round BEFORE selecting and break distance ties by nid
            # (lexsort: last key is primary) so the per-batch shortlist
            # keeps exactly the rows the global (dist, nid) window
            # would — an argpartition trim drops tied candidates
            # arbitrarily, making output batch-layout-dependent
            dist = np.round(dist, round_dist)
            top = min(k_scan, b)
            out_q, out_n, out_d = [], [], []
            for i in range(nq):
                order = np.lexsort((nids, dist[i]))[:top]
                out_q.extend([qids[i]] * top)
                out_n.extend(nids[order])
                out_d.extend(dist[i, order])
            yield pd.DataFrame({"qid": out_q, "nid": out_n, "dist": out_d})

    partials = codes.mapInPandas(
        scan, f"qid {qid_type}, nid {nid_type}, dist double"
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid"))
    adc = partials.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= adc_k)
    if refine is None:
        return adc
    return _exact_rerank(
        adc, qrows, qid_type, refine, refine_id, refine_vec, k, round_dist
    )


def _rerank_core(
    adc: DataFrame,
    qvec: DataFrame,
    refine: DataFrame,
    refine_id: str,
    refine_vec: str,
    k: int,
    round_dist: int,
) -> DataFrame:
    """Exact squared-L2 re-rank of an ADC shortlist: raw vectors are
    fetched ONLY for shortlist rows via the id equi-join; ``qvec`` is
    a (qid, qv array<double>) relation (broadcast by the caller when
    driver-small); the distance is a codegen zip_with/aggregate fold."""
    raw = refine.select(
        F.col(refine_id).alias("nid"),
        as_double_array(F.col(refine_vec)).alias("cv"),
    )
    exact_d = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rescored = (
        adc.select("qid", "nid")
        .join(raw, "nid")
        .join(qvec, "qid")
        .select("qid", "nid", F.round(exact_d, round_dist).alias("dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid"))
    return rescored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def _exact_rerank(
    adc: DataFrame,
    qrows,
    qid_type: str,
    refine: DataFrame,
    refine_id: str,
    refine_vec: str,
    k: int,
    round_dist: int,
) -> DataFrame:
    """:func:`_rerank_core` with the query vectors rebuilt from the
    already-collected driver-small query rows (broadcast join)."""
    spark = adc.sparkSession
    qvec = F.broadcast(
        spark.createDataFrame(
            [(r.qid, list(map(float, r.qv))) for r in qrows],
            f"qid {qid_type}, qv array<double>",
        )
    )
    return _rerank_core(adc, qvec, refine, refine_id, refine_vec, k, round_dist)


def ivfpq_topk_blocked(
    queries: DataFrame,
    codes_with_cid: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    k: int,
    n_probe: int = 3,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    round_dist: int = 6,
    refine: DataFrame | None = None,
    refine_id: str = "vec_id",
    refine_vec: str = "embedding",
    shortlist_factor: int = 5,
    q_blocks: int = 8,
) -> DataFrame:
    """IVF-pruned ADC top-k with NO driver collect anywhere: the
    query set is never collected and only probed cells are scanned.
    At a 100 TB code table only a pruned no-collect path survives;
    this is it.

    Plan shape: the query relation is assigned to its ``n_probe``
    nearest cells DISTRIBUTIVELY (the broadcast-centroid Arrow GEMM
    assignment kernel shared with ``ivf_build``/``ivf_probe``;
    deterministic (distance, cid) ties), then hash-blocked
    into ``q_blocks`` slices per cell. The code side replicates each
    cell's posting list to the ``q_blocks`` slices, and each
    ``cogroup((cid, qb)).applyInPandas`` tile builds the tile-local
    LUTs and folds m fancy-indexed adds per candidate, the IVF cell id
    being the candidate axis.

    Cost: ADC pairs scored drop from |Q| x |C| to
    ~(n_probe / n_cells) x |Q| x |C| (each query meets only its
    probed cells' postings); shuffle is |Q| x n_probe raw query
    vectors + |C| x q_blocks PQ codes (m SMALL INTS per row). The
    unpruned :func:`pq_topk` stays the right tool when the index has
    no cell structure.

    Distances, rounding, per-tile shortlist trim (round BEFORE
    selecting, (dist, nid) ties), and the global merge window are
    IDENTICAL to :func:`pq_topk`'s; every
    cell a query probes contributes at most ``adc_k`` candidates and
    the window ranks n_probe x adc_k per query. ``refine`` re-ranks
    the shortlist with exact squared-L2, query vectors joined as a
    distributed relation. Returns ``(qid, nid, dist, rn)``.
    """
    import numpy as np
    import pandas as pd

    from iot_sensor_data_pipeline_spark.operators.similarity import (
        _centroid_assigners,
    )

    if k < 1:
        raise ValueError("ivfpq_topk_blocked: k must be >= 1")
    if n_probe < 1:
        raise ValueError("ivfpq_topk_blocked: n_probe must be >= 1")
    if q_blocks < 1:
        raise ValueError("ivfpq_topk_blocked: q_blocks must be >= 1")
    C = np.asarray(codebooks, dtype=np.float64)  # (m, kk, dsub)
    m, _, dsub = C.shape
    qid_type = dict(queries.dtypes)[query_id]
    nid_type = dict(codes_with_cid.dtypes)["nid"]
    adc_k = k if refine is None else max(k, k * shortlist_factor)

    qprep = queries.select(
        F.col(query_id).alias("qid"), as_double_array(F.col(vec_col)).alias("qv")
    )
    _, assign_probe = _centroid_assigners(
        centroids, min(n_probe, len(centroids))
    )
    # one row per (query, probed cell): the |Q| x n_probe raw-vector
    # shuffle — the price of meeting each posting list where it lives
    q = qprep.select(
        "qid",
        "qv",
        F.explode(assign_probe(F.col("qv"))).alias("cid"),
    ).withColumn("qb", F.pmod(F.xxhash64("qid"), F.lit(q_blocks)).cast("int"))
    c = (
        codes_with_cid.select(
            F.col("cid").cast("int").alias("cid"), "nid", "codes"
        )
        .withColumn("qb", F.explode(F.array(*[F.lit(i) for i in range(q_blocks)])))
    )

    def tile(key, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or cpdf.empty:
            return pd.DataFrame({"qid": [], "nid": [], "dist": []})
        Q = np.stack(qpdf["qv"].to_numpy()).reshape(len(qpdf), m, dsub)
        lut = ((Q[:, :, None, :] - C[None, :, :, :]) ** 2).sum(-1)
        qids = qpdf["qid"].to_numpy()
        nids = cpdf["nid"].to_numpy()
        B = np.stack(cpdf["codes"].to_numpy())
        dist = np.zeros((len(qids), len(nids)))
        for j in range(m):
            dist += lut[:, j, B[:, j]]
        # round BEFORE selecting, ties by nid — identical trim
        # contract to pq_topk
        dist = np.round(dist, round_dist)
        top = min(adc_k, len(nids))
        out_q, out_n, out_d = [], [], []
        for i in range(len(qids)):
            order = np.lexsort((nids, dist[i]))[:top]
            out_q.extend([qids[i]] * top)
            out_n.extend(nids[order])
            out_d.extend(dist[i, order])
        return pd.DataFrame({"qid": out_q, "nid": out_n, "dist": out_d})

    partials = (
        q.groupBy("cid", "qb")
        .cogroup(c.groupBy("cid", "qb"))
        .applyInPandas(tile, f"qid {qid_type}, nid {nid_type}, dist double")
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid"))
    adc = partials.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= adc_k)
    if refine is None:
        return adc
    return _rerank_core(
        adc, qprep, refine, refine_id, refine_vec, k, round_dist
    )
