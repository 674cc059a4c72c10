"""Training-data pipeline queries (SURVEY.md §7 milestone 4 /
BASELINE.json north star): dedup, similarity search, text analysis —
over the driver's `documents` and `embeddings` tables.

Oracle coverage: exact dedup, fingerprinting, n-gram Jaccard pairs,
text features, and brute-force cosine top-k all have DuckDB oracles.
MinHash-LSH, SimHash, and RP-LSH are hash-family-specific (no
cross-engine SQL equivalent) -> rows-only checks here, with recall
unit tests against the exact operators in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.functions.text import STOPWORDS, text_features
from iot_sensor_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_near_pairs,
)
from iot_sensor_data_pipeline_spark.operators.similarity import cosine_topk, rp_lsh_topk
from iot_sensor_data_pipeline_spark.plans.registry import register, register_extended
from iot_sensor_data_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Exact dedup + fingerprinting
# ---------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
SELECT text, md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents
GROUP BY text
"""


@register_extended(  # rotated OUT of the gate in r12 (second r12 rotation: mutation flagships in)
    "documents_dedup_exact", oracle=_DEDUP_EXACT_ORACLE, tags=("pipeline", "dedup")
)
def documents_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup + the 128-bit md5 fingerprint per survivor
    (same grain, so the former documents_fingerprint entry folds in
    here — n_copies doubles as the fingerprint group size)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, ["text"], "doc_id").withColumn("fp", F.md5("text"))


_DEDUP_INCR_ORACLE = """
WITH seen AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 7 = 0
), batch AS (
  SELECT *, md5(text) AS fp,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, text, lang, source, n_chars
FROM batch
WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM seen WHERE seen.fp = batch.fp)
"""


@register("documents_dedup_incremental", oracle=_DEDUP_INCR_ORACLE, tags=("pipeline", "dedup"))
def documents_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators/dedup.dedup_incremental): the
    full table arrives as a "new batch" and is deduped within-batch
    (min-id survivor per fingerprint) and against a seen-fingerprint
    table (here: fingerprints of every doc_id % 7 == 0 document) via a
    left-anti join on the 128-bit fingerprint — the production flow
    where the corpus is too big to re-scan per increment."""
    from iot_sensor_data_pipeline_spark.operators.dedup import dedup_incremental

    docs = load_table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 7 == 0).select(F.md5("text").alias("fp"))
    fresh, _delta = dedup_incremental(docs, seen, "doc_id", "text")
    return fresh


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs (the oracle-checkable ground truth
# the sketch-based dedups are unit-tested against)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM toks, (SELECT range AS i FROM range(1, 100000)) r
  WHERE i + 2 <= len(w)
), counts AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i, j, round(common * 1.0 / (ca.n_sh + cb.n_sh - common), 6) AS jaccard
FROM pairs
JOIN counts ca ON ca.doc_id = i
JOIN counts cb ON cb.doc_id = j
WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= 0.2
"""


@register_extended("documents_ngram_jaccard_pairs", oracle=_JACCARD_ORACLE, tags=("pipeline", "dedup"))
def documents_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(shingles(docs, "doc_id", "text", n=3), threshold=0.2)


def documents_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (hash-family specific -> rows-only;
    recall vs the exact pairs is asserted in tests/test_dedup.py).
    Registered through documents_neardup_pairs; bench.py still times
    this path standalone under its historical name."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.2)


@register("documents_neardup_pairs", oracle=None, tags=("pipeline", "dedup"))
def documents_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based near-dup candidates, both families in one tagged
    union (keeps the registry inside the driver's 50-query gate):
    MinHash+LSH (exact-Jaccard-verified, jaccard column) and SimHash
    pigeonhole pairs (hamming column). Rows-only: hash families are
    engine-specific; recall floors are asserted in tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    mh = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.2).select(
        F.lit("minhash").alias("method"),
        "i",
        "j",
        "jaccard",
        F.lit(None).cast("long").alias("hamming"),
    )
    sh = simhash_near_pairs(simhash(docs, "doc_id", "text"), max_hamming=3).select(
        F.lit("simhash").alias("method"),
        "i",
        "j",
        F.lit(None).cast("double").alias("jaccard"),
        F.col("hamming").cast("long").alias("hamming"),
    )
    return mh.unionByName(sh)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _list_sql(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


_TEXT_FEATURES_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> t != '') AS toks,
         length(text) AS n_chars
  FROM documents
), feat AS (
  SELECT
    doc_id,
    len(toks) AS n_tokens,
    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
    n_chars,
    (n_chars - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / nullif(n_chars, 0) AS punct_r,
    (n_chars - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / nullif(n_chars, 0) AS digit_r,
    len(list_filter(toks, t -> t IN ({_list_sql(STOPWORDS["en"])}))) AS en_stopwords,
    {" ".join(
        f"len(list_filter(toks, t -> t IN ({_list_sql(ws)}))) AS hits_{lang},"
        for lang, ws in STOPWORDS.items()
    ).rstrip(",")}
  FROM base
)
SELECT
  doc_id, n_tokens, n_bpe_tokens, n_chars,
  round(punct_r, 6) AS punct_ratio,
  round(digit_r, 6) AS digit_ratio,
  en_stopwords,
  CASE
    WHEN greatest(hits_en, hits_de, hits_fr, hits_es) <= 0 THEN 'und'
    WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
    WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
    WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
    ELSE 'es'
  END AS lang_pred,
  round(
    (least(n_tokens, 200) / 200.0) * (1 - punct_r) * (1 - digit_r)
      * (0.5 + 0.5 * (least(en_stopwords, 10) / 10.0)),
    6
  ) AS quality,
  md5((SELECT text FROM documents d WHERE d.doc_id = feat.doc_id)) AS fingerprint,
  md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(
    (SELECT text FROM documents d WHERE d.doc_id = feat.doc_id)
  ), '[0-9]', '0', 'g'), '[^a-z0\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS norm_fingerprint
FROM feat
"""


@register("documents_text_features", oracle=_TEXT_FEATURES_ORACLE, tags=("pipeline", "text"), bench=True)
def documents_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts (whitespace + BPE-ish), punctuation/digit ratios,
    stopword hits, language-ID heuristic, quality score, fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return text_features(docs)


# ---------------------------------------------------------------------------
# Duplicate clustering: connected components over the exact Jaccard
# pairs — iterative min-label propagation in Spark, RECURSIVE CTE in
# the oracle (two unrelated algorithms, same fixpoint).
# ---------------------------------------------------------------------------

_DUP_CLUSTERS_ORACLE = """
WITH RECURSIVE
toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM toks, (SELECT range AS i FROM range(1, 100000)) r
  WHERE i + 2 <= len(w)
), counts AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), prs AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sim_pairs AS (
  SELECT i, j FROM prs
  JOIN counts ca ON ca.doc_id = i
  JOIN counts cb ON cb.doc_id = j
  WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= 0.2
), edges AS (
  SELECT i AS a, j AS b FROM sim_pairs
  UNION
  SELECT j AS a, i AS b FROM sim_pairs
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)
SELECT id, min(r) AS cluster FROM reach GROUP BY id
"""


@register("documents_dup_clusters", oracle=_DUP_CLUSTERS_ORACLE, tags=("pipeline", "dedup", "iterative"))
def documents_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components duplicate clustering (cluster = min member
    id) — iterative join-based label propagation, checked against a
    recursive-CTE reachability oracle."""
    from iot_sensor_data_pipeline_spark.operators.dedup import duplicate_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(shingles(docs, "doc_id", "text", n=3), threshold=0.2)
    return duplicate_clusters(docs.select(F.col("doc_id").alias("id")), pairs)


# ---------------------------------------------------------------------------
# Multimodal: binary content column + typed metadata through the real
# mapInPandas decode stage. The binary table is synthesized
# deterministically from documents (content = utf-8 bytes of text), so
# the metadata outputs are oracle-checkable while the feature
# extraction itself (stub codec) is covered by unit tests.
# ---------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
SELECT
  doc_id AS item_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes
FROM documents
"""


@register("documents_multimodal_meta", oracle=_MULTIMODAL_ORACLE, tags=("pipeline", "multimodal"))
def documents_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary + media-metadata columns through the Arrow decode stage
    (operators/multimodal.extract_features), projecting the
    oracle-comparable metadata; the stubbed feature vectors are pinned
    by tests/test_multimodal.py."""
    from iot_sensor_data_pipeline_spark.operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("item_id"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("video")
            .alias("kind"),
            F.lit("raw").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("media"),
    )
    return extract_features(media).select("item_id", "kind", "n_bytes")


@register("documents_topic_clusters", oracle=None, tags=("pipeline", "text", "ml"))
def documents_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark ML pipeline integration, both trained surfaces in one
    entry: Tokenizer -> HashingTF -> IDF -> KMeans topic clusters per
    document, PLUS the model-based quality-classifier stage
    (operators/quality.py — LogisticRegression over hashed TF,
    trained on a deterministic length-derived label, scores appended
    as quality_prob). Rows-only (iterative ML training has no SQL
    equivalent); separation power and the importance filter are
    pinned in tests/test_quality.py."""
    from pyspark.ml import Pipeline
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import HashingTF, IDF, Tokenizer

    from iot_sensor_data_pipeline_spark.operators.quality import (
        score_quality,
        train_quality_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    pipeline = Pipeline(
        stages=[
            Tokenizer(inputCol="text", outputCol="words"),
            HashingTF(inputCol="words", outputCol="tf", numFeatures=256),
            IDF(inputCol="tf", outputCol="features"),
            KMeans(k=5, seed=42, featuresCol="features", predictionCol="topic"),
        ]
    )
    model = pipeline.fit(docs)
    topics = model.transform(docs).select(
        "doc_id", "lang", F.col("topic").cast("int").alias("topic")
    )
    labeled = docs.withColumn("label", (F.col("n_chars") >= 150).cast("int"))
    clf = train_quality_classifier(labeled, num_features=1 << 12)
    scored = score_quality(clf, docs).select("doc_id", "quality_prob")
    return topics.join(scored, "doc_id")


# ---------------------------------------------------------------------------
# TF-IDF: classic text weighting, fully relational (no ML pipeline
# object needed), so it is oracle-checkable end to end.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t != '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT
    tf.doc_id, tf.token,
    round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INTEGER) AS rn
  FROM scored
)
SELECT doc_id, token, tfidf, rn FROM ranked WHERE rn <= 5
"""


@register_extended("documents_tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("pipeline", "text"))
def documents_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf, ln((N+1)/(df+1))+1).
    Three aggs + one broadcastable join — no ML pipeline object, no UDF."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " ", -1), lambda t: t != "")).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()
    scored = tf.join(F.broadcast(df_), "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_KNN_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), q AS (
  SELECT * FROM e WHERE vec_id % 100 = 0
), pairs AS (
  SELECT
    q.vec_id AS qid,
    c.vec_id AS nid,
    round(
      list_dot_product(q.emb, c.emb)
        / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))),
      6
    ) AS score
  FROM q CROSS JOIN e c
  WHERE q.vec_id != c.vec_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS INTEGER) AS rn
  FROM pairs
)
SELECT qid, nid, score, rn FROM ranked WHERE rn <= 10
"""


@register("embeddings_knn_brute_force", oracle=_KNN_ORACLE, tags=("pipeline", "similarity"), bench=True)
def embeddings_knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for every 100th vector as query set —
    broadcast queries x full corpus scan, JVM fold for the dot product."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return cosine_topk(queries, emb, k=10)


def embeddings_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (bucketed candidates + exact re-rank);
    recall vs brute force asserted in tests/test_similarity.py.
    Registered through embeddings_ann_variants."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return rp_lsh_topk(queries, emb, k=10, dim=64)


_COSINE_NEAR_DUP_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
)
SELECT
  a.vec_id AS i,
  b.vec_id AS j,
  round(
    list_dot_product(a.emb, b.emb)
      / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))),
    6
  ) AS score
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb)
      / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
"""


@register("embeddings_cosine_near_dup", oracle=_COSINE_NEAR_DUP_ORACLE, tags=("pipeline", "dedup", "similarity"))
def embeddings_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact all-pairs variant
    (the oracle-checkable ground truth for the LSH-bucketed variant)."""
    from iot_sensor_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.4)


def embeddings_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine near-dup (scale path; rows-only — recall vs
    the exact variant asserted in tests/test_similarity.py).
    Registered through embeddings_ann_variants."""
    from iot_sensor_data_pipeline_spark.operators.similarity import cosine_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.4, n_planes=6, dim=64)


def embeddings_knn_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow+BLAS brute force (mapInPandas GEMM per corpus partition) —
    the large-query-set path; equality with the JVM fold variant pinned
    in tests/test_similarity.py (rows-only: normalized-matrix op
    order can differ from the oracle's fold in the 6th decimal).
    Registered through embeddings_ann_variants."""
    from iot_sensor_data_pipeline_spark.operators.similarity import cosine_topk_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return cosine_topk_gemm(queries, emb, k=10)


def embeddings_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means coarse quantizer + probe-and-rerank); recall vs
    brute force asserted in tests/test_similarity.py.
    Registered through embeddings_ann_variants."""
    from iot_sensor_data_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ivf_topk(queries, emb, k=10, n_centroids=16, n_probe=4)


@register("embeddings_ann_variants", oracle=None, tags=("pipeline", "similarity", "udf"))
def embeddings_ann_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every approximate / accelerated similarity path in one tagged
    union (keeps the registry inside the driver's 50-query gate):

    - lsh          — RP-LSH bucketed top-k (qid, nid, score, rn)
    - ivf          — IVF probe-and-rerank top-k
    - gemm         — Arrow+BLAS mapInPandas exact top-k
    - near_dup_lsh — LSH-bucketed cosine near-dup pairs (i -> qid,
                     j -> nid, rn null)
    - pq           — product-quantization ADC shortlist + exact
                     re-rank (operators/quantization.py): L2-normalized
                     vectors so squared-L2 is rank-equivalent to
                     cosine; score = exact re-ranked distance negated
                     into the shared 'higher is closer' convention
    - ivfpq_blocked — the NO-COLLECT IVF-pruned composition
                     (ivfpq_topk_blocked): distributed probe
                     assignment + per-cell cogroup ADC tiles — the
                     100 TB corpus-vs-corpus path; same re-rank and
                     score convention as 'pq'

    Rows-only: hash/quantizer families are engine-specific. Recall
    floors vs the exact baselines are asserted in
    tests/test_similarity.py and tests/test_quantization.py; the
    exact baselines themselves
    (embeddings_knn_brute_force, embeddings_cosine_near_dup) keep
    hash-checked DuckDB oracles."""
    from iot_sensor_data_pipeline_spark.operators.quantization import (
        ivfpq_topk_blocked,
        pq_encode,
        pq_topk,
        pq_train,
    )
    from iot_sensor_data_pipeline_spark.operators.similarity import (
        ivf_build,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    unit = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") / l2_norm(F.col("embedding")),
        ).alias("embedding"),
    )
    books = pq_train(unit, m=4, k=64, sample_rows=5000, iters=8)
    codes = pq_encode(unit, books)
    pq = pq_topk(
        unit.where(F.col("vec_id") % 100 == 0),
        codes,
        books,
        k=10,
        refine=unit,
        shortlist_factor=5,
    )
    assignments, centroids = ivf_build(unit, n_centroids=8)
    ivfpq_blocked = ivfpq_topk_blocked(
        unit.where(F.col("vec_id") % 100 == 0),
        codes.join(assignments.select("cid", "nid"), "nid"),
        books,
        centroids,
        k=10,
        n_probe=3,
        refine=unit,
        shortlist_factor=5,
        q_blocks=4,
    )
    parts = [
        embeddings_knn_lsh(spark, sf_dir).select(
            F.lit("lsh").alias("method"), "qid", "nid", "score", F.col("rn").cast("long")
        ),
        embeddings_knn_ivf(spark, sf_dir).select(
            F.lit("ivf").alias("method"), "qid", "nid", "score", F.col("rn").cast("long")
        ),
        embeddings_knn_gemm(spark, sf_dir).select(
            F.lit("gemm").alias("method"), "qid", "nid", "score", F.col("rn").cast("long")
        ),
        embeddings_cosine_near_dup_lsh(spark, sf_dir).select(
            F.lit("near_dup_lsh").alias("method"),
            F.col("i").alias("qid"),
            F.col("j").alias("nid"),
            "score",
            F.lit(None).cast("long").alias("rn"),
        ),
        pq.select(
            F.lit("pq").alias("method"),
            "qid",
            "nid",
            (-F.col("dist")).alias("score"),
            F.col("rn").cast("long"),
        ),
        ivfpq_blocked.select(
            F.lit("ivfpq_blocked").alias("method"),
            "qid",
            "nid",
            (-F.col("dist")).alias("score"),
            F.col("rn").cast("long"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_NORM_ORACLE = """
SELECT
  vec_id,
  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
  label
FROM embeddings
"""


def _l2_kernel(v):  # pd.Series -> pd.Series; hints omitted — inference
    # rejects the stringized hints `from __future__ import
    # annotations` produces, so the Series contract lives here.
    # Fully vectorized over the Arrow batch. The oracle's
    # list_dot_product sums LEFT TO RIGHT, so the kernel must too
    # (np.sum/np.dot use pairwise blocking that drifts in the last
    # ulp). Fixed-dim batch (the embedding-table case): reshape to
    # (n, dim) and row-wise cumsum — per-row sequential order,
    # zero Python per row. Ragged fallback: np.add.reduceat's
    # simple per-segment loop (also sequential, fresh per segment).
    import numpy as np
    import pandas as pd

    if len(v) == 0:
        return pd.Series(np.zeros(0))
    lens = v.map(len).to_numpy(dtype="int64")
    flat = np.concatenate([np.asarray(x, dtype="float64") for x in v])
    sq = np.square(flat)
    if sq.size == 0:
        sums = np.zeros(len(v))
    elif lens.min() == lens.max():
        sums = np.cumsum(sq.reshape(len(v), lens[0]), axis=1)[:, -1]
    else:
        # zero-length segments: pad sq with one trailing 0.0 so every
        # raw offset (max = sum(lens)) is in range — clamping instead
        # would fold a trailing empty segment's boundary into the
        # previous segment and truncate its sum. reduceat returns
        # sq[offset] for equal successive offsets — masked by the where.
        offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
        padded = np.append(sq, 0.0)
        sums = np.where(lens > 0, np.add.reduceat(padded, offsets), 0.0)
    return pd.Series(np.sqrt(sums))


@register("embeddings_l2_norm_pandas_udf", oracle=_NORM_ORACLE, tags=("pipeline", "udf"))
def embeddings_l2_norm_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-vectorized UDF path, oracle-checked: numpy L2 norms
    over Arrow batches (kernel: _l2_kernel, ragged-batch-safe — see
    tests/test_similarity.py). Exists to pin the pandas_udf plumbing —
    for a pure norm the built-in fold (operators/similarity.l2_norm) is
    the better plan (no Python at all)."""
    from pyspark.sql.functions import pandas_udf

    l2 = pandas_udf(_l2_kernel, "double")

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.round(l2(F.col("embedding")), 6).alias("l2_norm"), "label"
    )


# ---------------------------------------------------------------------------
# Training-data curation: deterministic split + stratified sample + PII
# (operators/curation.py), oracle-checked as one tagged union
# ---------------------------------------------------------------------------

_PII_SQL_CHAIN = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
    " '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),"
    " '\\b(?:\\d[ -]?){13,16}\\b', '<CARD>', 'g'),"
    " '(?:\\+?\\d{1,2}[ .-]?)?\\(?\\d{3}\\)?[ .-]?\\d{3}[ .-]?\\d{4}\\b', '<PHONE>', 'g'),"
    " '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g')"
)

_PII_HITS_SQL = (
    "len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))"
    " + len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))"
    " + len(regexp_extract_all(text, '\\b(?:\\d[ -]?){13,16}\\b'))"
    " + len(regexp_extract_all(text, '(?:\\+?\\d{1,2}[ .-]?)?\\(?\\d{3}\\)?[ .-]?\\d{3}[ .-]?\\d{4}\\b'))"
    " + len(regexp_extract_all(text, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))"
)

_CURATION_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang, text,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           * 1000000 // 4294967296 AS bucket
  FROM documents
)
SELECT 'split' AS section, doc_id,
       CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS str_val,
       CAST(bucket AS BIGINT) AS num_val
FROM b
UNION ALL
SELECT 'sample' AS section, doc_id, lang AS str_val, CAST(NULL AS BIGINT) AS num_val
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) s
WHERE rn <= 20
UNION ALL
SELECT 'pii' AS section, doc_id,
       {_PII_SQL_CHAIN} AS str_val,
       CAST({_PII_HITS_SQL} AS BIGINT) AS num_val
FROM documents
UNION ALL
SELECT 'mix' AS section, doc_id, lang AS str_val, CAST(mixb AS BIGINT) AS num_val
FROM (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           * 1000000 // 4294967296 AS mixb
  FROM documents
) m
WHERE mixb < CASE lang
  WHEN 'en' THEN 1000000 WHEN 'zh' THEN 600000 WHEN 'es' THEN 500000
  WHEN 'de' THEN 400000 WHEN 'fr' THEN 250000 ELSE 1000000 END
UNION ALL
SELECT 'budget' AS section, doc_id, lang AS str_val, CAST(cum_before AS BIGINT) AS num_val
FROM (
  SELECT doc_id, lang,
         coalesce(sum(n_chars) OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM documents
) b
WHERE cum_before < CASE lang
  WHEN 'en' THEN 120000 WHEN 'zh' THEN 40000 ELSE 20000 END
"""


@register("documents_curation", oracle=_CURATION_ORACLE, tags=("pipeline", "curation"))
def documents_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation surface (operators/curation.py) as one tagged union:

    - 'split'  — deterministic 80/10/10 train/val/test assignment.
      Uses the md5-prefix bucket (md5_bucket_expr) instead of the
      xxhash64 default so the assignment reproduces bit-for-bit on any
      engine with md5 — the xxhash64 path is pinned separately in
      tests/test_curation.py (partition-invariance + proportions).
    - 'sample' — stratified_sample_exact: exactly 20 docs per lang,
      chosen by md5 order (deterministic, engine-independent).
    - 'pii'    — pii_redact'ed text + total PII hit count per doc
      (patterns are RE2-compatible by construction, so Java regex and
      DuckDB RE2 agree — that cross-engine property is exactly what
      this oracle asserts).
    - 'mix'    — weighted_mix: per-language keep-rates (en 1.0,
      zh 0.6, es 0.5, de 0.4, fr 0.25) via the md5 mix bucket — the
      mixture-reweighting stage; a zero-shuffle deterministic filter
      (see operators/curation.py:weighted_mix for the 100 TB
      properties df.sample() lacks).
    - 'budget' — token_budget_sample: deterministic md5-order prefix
      per language until a char budget (n_chars as token proxy:
      en 120k, zh 40k, else 20k) — mixture construction by TOKEN
      count, not doc count; num_val carries cum_before for
      budget-utilization accounting.
    """
    from iot_sensor_data_pipeline_spark.operators.curation import (
        PII_PATTERNS,
        deterministic_split,
        md5_bucket_expr,
        md5_mix_bucket_expr,
        pii_redact,
        stratified_sample_exact,
        token_budget_sample,
        weighted_mix,
    )

    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket_expr("doc_id")

    split = deterministic_split(
        docs.select("doc_id"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        bucket_expr=bucket,
    ).select(
        F.lit("split").alias("section"),
        "doc_id",
        F.col("split").alias("str_val"),
        bucket.alias("num_val"),
    )

    sample = stratified_sample_exact(
        docs.select("doc_id", "lang"), "lang", 20, "doc_id"
    ).select(
        F.lit("sample").alias("section"),
        "doc_id",
        F.col("lang").alias("str_val"),
        F.lit(None).cast("long").alias("num_val"),
    )

    hits = None
    for _, pat, _ in PII_PATTERNS:
        c = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
        hits = c if hits is None else hits + c
    pii = docs.select(
        F.lit("pii").alias("section"),
        "doc_id",
        pii_redact(F.col("text")).alias("str_val"),
        hits.cast("long").alias("num_val"),
    )

    mix_bucket = md5_mix_bucket_expr("lang", "doc_id")
    mix = weighted_mix(
        docs.select("doc_id", "lang", mix_bucket.alias("__mixb")),
        "lang",
        {"en": 1.0, "zh": 0.6, "es": 0.5, "de": 0.4, "fr": 0.25},
        "doc_id",
        bucket_expr=F.col("__mixb"),
    ).select(
        F.lit("mix").alias("section"),
        "doc_id",
        F.col("lang").alias("str_val"),
        F.col("__mixb").alias("num_val"),
    )

    budget = token_budget_sample(
        docs.select("doc_id", "lang", "n_chars"),
        "lang",
        {"en": 120_000, "zh": 40_000},
        "doc_id",
        "n_chars",
        default_budget=20_000,
    ).select(
        F.lit("budget").alias("section"),
        "doc_id",
        F.col("lang").alias("str_val"),
        F.col("cum_before").alias("num_val"),
    )

    return (
        split.unionByName(sample)
        .unionByName(pii)
        .unionByName(mix)
        .unionByName(budget)
    )


# ---------------------------------------------------------------------------
# Repetition quality metrics + benchmark decontamination (one row per
# document with >= 1 word 2-gram)
# ---------------------------------------------------------------------------

_REP_CONTAM_ORACLE = """
WITH toksf AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
  FROM toksf, (SELECT range AS i FROM range(1, 100000)) r
  WHERE i + 1 <= len(w)
), per_gram AS (
  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2
), rep AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_grams,
         round(max(cnt) * 1.0 / sum(cnt), 6) AS top_gram_frac,
         round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0 / sum(cnt), 6) AS dup_gram_frac,
         round(count(*) * 1.0 / sum(cnt), 6) AS distinct_frac
  FROM per_gram GROUP BY doc_id
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM toks, (SELECT range AS i FROM range(1, 100000)) r
  WHERE i + 2 <= len(w)
), contam AS (
  SELECT c.doc_id, count(DISTINCT c.shingle) AS n_shared_grams
  FROM sh c
  JOIN (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 13 = 0) e
    ON c.shingle = e.shingle AND c.doc_id != e.eval_id
  GROUP BY c.doc_id
)
SELECT r.doc_id, n_grams, top_gram_frac, dup_gram_frac, distinct_frac,
       coalesce(n_shared_grams, 0) AS n_shared_grams,
       (coalesce(n_shared_grams, 0) > 0) AS contaminated
FROM rep r LEFT JOIN contam USING (doc_id)
"""


@register_extended(
    "documents_repetition_contamination",
    oracle=_REP_CONTAM_ORACLE,
    tags=("pipeline", "curation"),
)
def documents_repetition_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (operators/curation.
    repetition_metrics — Gopher-style top/dup 2-gram fractions) joined
    with benchmark-decontamination tags (contamination_tags: 3-gram
    shingle overlap against the eval subset doc_id % 13 == 0, self
    excluded). One row per doc that has at least one 2-gram."""
    from iot_sensor_data_pipeline_spark.operators.curation import (
        contamination_tags,
        repetition_metrics,
    )

    docs = load_table(spark, sf_dir, "documents")
    rep = repetition_metrics(docs, "doc_id", "text", n=2).withColumnRenamed(
        "id", "doc_id"
    )
    sh = shingles(docs, "doc_id", "text", n=3)
    ev = sh.where(F.col("id") % 13 == 0)
    contam = contamination_tags(sh, ev).withColumnRenamed("id", "doc_id")
    return rep.join(contam, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "top_gram_frac",
        "dup_gram_frac",
        "distinct_frac",
        F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
        (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cosine near-dup pairs -> connected
# components -> keep one canonical representative per semantic group.
# The exact mode is oracle-checkable end to end (pairs as in
# embeddings_cosine_near_dup, components as a RECURSIVE CTE); the
# k-means-partitioned scale mode is recall-tested against it in
# tests/test_similarity.py.
# ---------------------------------------------------------------------------

_SEMANTIC_DEDUP_ORACLE = """
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), prs AS (
  SELECT a.vec_id AS i, b.vec_id AS j
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.emb, b.emb)
        / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
), edges AS (
  SELECT i AS a, j AS b FROM prs
  UNION
  SELECT j AS a, i AS b FROM prs
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e2.b, reach.r FROM reach JOIN edges e2 ON e2.a = reach.id
)
SELECT id, min(r) AS cluster, CAST(id = min(r) AS INTEGER) AS kept
FROM reach GROUP BY id
"""


@register(
    "embeddings_semantic_dedup",
    oracle=_SEMANTIC_DEDUP_ORACLE,
    tags=("pipeline", "dedup", "similarity", "iterative"),
)
def embeddings_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table, exact-pairs mode (the
    oracle-checkable ground truth; operators/similarity.semantic_dedup):
    every vector labeled with its semantic-duplicate group and a
    kept/dropped decision, group representative = min member id."""
    from iot_sensor_data_pipeline_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4)


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (C4 / RefinedWeb): corpus-wide
# duplicated lines stripped from every document, order-preserving
# reassembly. The multi-line corpus is synthesized deterministically
# from `documents` (8-word lines + a per-source footer line), so the
# whole pipeline — explode, hashed frequency count, anti-join,
# positional reassembly — is oracle-checkable.
# ---------------------------------------------------------------------------

_BOILERPLATE_ORACLE = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws, 'FOOTER ' || source AS footer
  FROM documents
), lns AS (
  SELECT doc_id, r.i AS pos, array_to_string(ws[r.i * 8 + 1 : r.i * 8 + 8], ' ') AS line
  FROM base, range(0, 100000) r(i)
  WHERE r.i * 8 < len(ws)
  UNION ALL
  SELECT doc_id, 1000000 AS pos, footer AS line FROM base
), freq AS (
  SELECT line, count(DISTINCT doc_id) AS f FROM lns GROUP BY line
), kept AS (
  SELECT l.doc_id, l.pos, l.line FROM lns l JOIN freq f USING (line) WHERE f.f < 10
)
SELECT
  d.doc_id AS id,
  coalesce(
    (SELECT string_agg(k.line, chr(10) ORDER BY k.pos) FROM kept k WHERE k.doc_id = d.doc_id),
    ''
  ) AS text_clean,
  (SELECT count(*) FROM lns l WHERE l.doc_id = d.doc_id) AS n_lines,
  (SELECT count(*) FROM lns l WHERE l.doc_id = d.doc_id)
    - (SELECT count(*) FROM kept k WHERE k.doc_id = d.doc_id) AS n_removed
FROM documents d
"""


@register(
    "documents_boilerplate_lines",
    oracle=_BOILERPLATE_ORACLE,
    tags=("pipeline", "curation", "text"),
)
def documents_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level dedup (operators/curation.
    remove_boilerplate_lines) over a synthesized multi-line corpus:
    each document becomes its 8-word chunks plus a shared per-source
    'FOOTER <source>' line; at min_dup_freq=10 every footer (and any
    line shared by >= 10 documents, e.g. exact-duplicate groups'
    chunks) is stripped, unique lines survive in order."""
    from iot_sensor_data_pipeline_spark.operators.curation import (
        remove_boilerplate_lines,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    chunk_lines = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(words) / 8).cast("int") - 1),
        lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
    )
    multi = docs.select(
        "doc_id",
        F.array_join(
            F.concat(
                chunk_lines,
                F.array(F.concat(F.lit("FOOTER "), F.col("source"))),
            ),
            "\n",
        ).alias("text"),
    )
    return remove_boilerplate_lines(multi, min_dup_freq=10)


def embeddings_ivfpq_blocked_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only headline (r9 anchor): the NO-COLLECT blocked IVFxPQ
    ANN path in isolation — PQ train/encode + IVF coarse quantizer +
    ``ivfpq_topk_blocked`` (cogroup (cell, q_block) LUT-ADC tiles with
    exact refine) over the full embeddings table, every 50th vector as
    the query set. Not in the driver gate (the hash-specific union
    `embeddings_ann_variants` carries the correctness stamp); this
    entry exists so the heaviest r8 ANN operator has a round-over-round
    wall-time trace instead of SCALE.md spot rows."""
    from iot_sensor_data_pipeline_spark.operators.quantization import (
        ivfpq_topk_blocked,
        pq_encode,
        pq_train,
    )
    from iot_sensor_data_pipeline_spark.operators.similarity import (
        ivf_build,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    unit = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") / l2_norm(F.col("embedding")),
        ).alias("embedding"),
    )
    unit = unit.localCheckpoint(eager=False)  # 4 consumers below
    books = pq_train(unit, m=4, k=64, sample_rows=5000, iters=4)
    codes = pq_encode(unit, books)
    # capped quantizer-training cost: the headline measures the blocked
    # probe's scaling, not Spark ML KMeans' fixed fitting constant
    assignments, centroids = ivf_build(
        unit, n_centroids=16, train_sample_rows=20_000, max_iter=8
    )
    return ivfpq_topk_blocked(
        unit.where(F.col("vec_id") % 50 == 0),
        codes.join(assignments.select("cid", "nid"), "nid"),
        books,
        centroids,
        k=10,
        n_probe=4,
        refine=unit,
        shortlist_factor=5,
        q_blocks=8,
    )
