"""Deduplication operators for training-data pipelines.

Four tiers, cheapest-first — the standard dedup funnel at 100 TB:

1. exact        — hash group-by on content (one shuffle on the hash)
2. simhash      — 64-bit near-dup sketch, pigeonhole-banded join
3. minhash-LSH  — Jaccard near-dup, band-bucketed candidate join
4. ngram-Jaccard exact verification — quadratic; run ONLY on the
   candidate pairs the sketches emit (or small data), never globally

Scale notes: every stage is expressed as shuffles on derived keys
(content hash / band hash / shingle), so the cluster distributes
candidate generation; nothing collects to the driver. The LSH band
join is the canonical replacement for the O(n^2) all-pairs loop — at
n documents it touches only colliding buckets. Skewed buckets (a
boilerplate shingle shared by millions of docs) are the classic
hazard: `shingles()` can cap per-shingle fan-out via
``max_shingle_freq`` exactly like production dedup pipelines drop
too-common shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_exact(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one survivor (min id) per distinct content.

    Implemented as groupBy on the content columns (map-side partial
    aggregation collapses duplicates before the shuffle). Returns
    (content_cols..., keeper id, n_copies).
    """
    return df.groupBy(*content_cols).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _widen(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition up to the cluster's parallelism before explode-heavy
    work. A small parquet file arrives as ONE partition; exploding it
    50x on one core serializes the whole pipeline — the shuffle here is
    cheap, the parallelism is not optional.

    With ``key``, hash-repartition on that column instead of round-robin:
    explode and projections preserve the partitioning, so every
    downstream groupBy/join on the (aliased) key runs exchange-free —
    one small pre-explode shuffle replaces several post-explode ones.
    """
    if df.isStreaming:  # partition introspection needs a batch RDD
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if key is not None:
        return df.repartition(target, key)
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    ``max_shingle_freq`` drops shingles occurring in more than that
    many documents — the skew guard for band joins at scale.
    """
    # keyed widen: the output stays hash-partitioned by id (explode and
    # the alias projection preserve it), so the minhash signature agg
    # and the verification collect_set/semi-join all reuse this one
    # exchange instead of re-shuffling the exploded relation.
    df = _widen(df, key=id_col)
    words = F.split(F.col(text_col), " ", -1)
    n_grams_in_doc = F.size(words) - (n - 1)
    # sequence(1, k) DESCENDS for k < 1, and slice(words, 0, n) is a
    # runtime error -> docs shorter than n words get an empty gram set
    grams = F.when(n_grams_in_doc < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams_in_doc, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )
    out = df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle")
    )
    if max_shingle_freq is not None:
        freq = out.groupBy("shingle").agg(F.count(F.lit(1)).alias("__freq"))
        out = (
            out.join(freq.where(F.col("__freq") <= max_shingle_freq), "shingle")
            .drop("__freq")
        )
    return out


def hashed_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """:func:`shingles` reduced to 64-bit hashes: (id, shingle long).

    This is THE module convention for everything minhash-shaped:
    :func:`minhash_dedup_pairs` sketches over these longs, and any
    persisted signature / band index
    must be built from them too — signatures over raw string shingles
    use a different hash input and silently never collide with
    hashed-shingle probes. Jaccard over the hashes equals Jaccard over
    the strings absent a 64-bit collision (~d^2/2^65 for d distinct
    shingles), while every downstream shuffle carries 8-byte keys.
    """
    return shingles(
        df, id_col, text_col, n=n, max_shingle_freq=max_shingle_freq
    ).select("id", F.xxhash64("shingle").alias("shingle"))


def ngram_jaccard_pairs(
    shingle_df: DataFrame,
    threshold: float,
    candidates: DataFrame | None = None,
    candidates_distinct: bool = False,
) -> DataFrame:
    """Exact Jaccard-similar pairs (i < j) from a (id, shingle) relation.

    Without ``candidates`` this is the quadratic all-pairs path (only
    for small inputs / oracle checks); with it, only candidate (i, j)
    pairs are verified — the cheap second phase after LSH. Pass
    ``candidates_distinct=True`` when the candidate relation is already
    pair-deduplicated (e.g. straight out of
    :func:`lsh_candidate_pairs`) to skip a redundant exchange.

    ``shingle`` may be any orderable type: the minhash pipeline passes
    64-bit hashed shingles (longs) instead of strings, which shrinks
    the persisted relation and the set-intersection arrays ~3x with
    statistically exact Jaccard (64-bit collisions are negligible
    below ~10^9 distinct shingles).
    """
    if candidates is not None:
        # candidate-verification path: gather each TOUCHED document's
        # distinct-shingle set once (semi-join restricts to candidate
        # ids), then two id-equi-joins bring both sets onto the pair
        # row and array_intersect counts the overlap — three cheap
        # shuffles total, vs the self-join's six. Per-doc set size is
        # bounded by document length, so the arrays stay row-sized at
        # any corpus scale.
        cand = candidates.select("i", "j")
        if not candidates_distinct:
            cand = cand.distinct()
        touched = (
            cand.select(F.col("i").alias("id"))
            .union(cand.select(F.col("j").alias("id")))
            .distinct()
        )
        sets = (
            shingle_df.join(touched, "id", "left_semi")
            .groupBy("id")
            .agg(
                F.collect_set("shingle").alias("sh"),
                F.count(F.lit(1)).alias("n_sh"),
            )
            # checkpointed: BOTH pair joins consume this relation, and
            # alias-renamed subtrees defeat exchange reuse — without it
            # the semi-join + collect_set aggregation plans (and runs)
            # twice, i-side and j-side. Measured 2-3x on the verify
            # stage at sf0.1. Lazy RDD-level storage, reclaimed by the
            # ContextCleaner like the module's other checkpoints.
            .localCheckpoint(eager=False)
        )
        return (
            cand.join(
                sets.select(
                    F.col("id").alias("i"), F.col("sh").alias("sh_i"), F.col("n_sh").alias("n_i")
                ),
                "i",
            )
            .join(
                sets.select(
                    F.col("id").alias("j"), F.col("sh").alias("sh_j"), F.col("n_sh").alias("n_j")
                ),
                "j",
            )
            .withColumn("common", F.size(F.array_intersect("sh_i", "sh_j")))
            .withColumn(
                "jaccard",
                F.col("common") / (F.col("n_i") + F.col("n_j") - F.col("common")),
            )
            .where(F.col("jaccard") >= threshold)
            .select("i", "j", F.round("jaccard", 6).alias("jaccard"))
        )

    counts = shingle_df.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingle_df.alias("a")
    b = shingle_df.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col("id").alias("i"), F.col("n_sh").alias("n_i"))
    cb = counts.select(F.col("id").alias("j"), F.col("n_sh").alias("n_j"))
    return (
        common.join(ca, "i")
        .join(cb, "j")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_i") + F.col("n_j") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("i", "j", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    shingle_df: DataFrame, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """MinHash signature per id: (id, mh0..mh{k-1}).

    INPUT CONVENTION: pass :func:`hashed_shingles` output (64-bit
    longs), not raw string shingles. Signatures are only comparable
    when built from the same shingle representation; the pipeline
    standard (and what any persisted index must use) is the hashed
    form.

    One aggregation: k mins over k independently-seeded xxhash64
    applications (the seed rides along as an extra hashed column —
    xxhash64 mixes all its arguments). All JVM codegen; partial
    aggregation shrinks the shuffle to k longs per id. A full 64-bit
    family: ~3x faster than the classic (a*h+b) mod p universal family
    over a 31-bit base hash, and collision-free in practice where the
    31-bit base starts colliding at ~10^5 distinct shingles. MinHash
    only needs a random injective map with a total order, so the
    signed-long ordering is immaterial.

    Codegen note: the k hash expressions are deliberately inlined into
    the aggregate rather than precomputed via a ``transform`` array —
    higher-order functions are interpreted (outside whole-stage
    codegen), and k×rows interpreted xxhash64 calls cost far more than
    the one-time compile of k inlined kernels (measured 1.5-2x slower
    end-to-end at k=64).
    """
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed + k))).alias(f"mh{k}")
        for k in range(num_hashes)
    ]
    return shingle_df.groupBy("id").agg(*aggs)


def minhash_band_index(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Exploded band table (id, band_idx, band_hash) from a signature
    relation — the join-key side of banded LSH. The signatures must
    follow the :func:`hashed_shingles` input convention: a
    raw-string-built band table never collides with hashed probes."""
    sig_cols = [c for c in signatures.columns if c.startswith("mh")]
    n_bands = len(sig_cols) // rows_per_band
    bands = F.array(
        *[
            F.xxhash64(*[F.col(sig_cols[band * rows_per_band + r]) for r in range(rows_per_band)])
            for band in range(n_bands)
        ]
    )
    return signatures.select("id", F.posexplode(bands).alias("band_idx", "band_hash"))


def lsh_candidate_pairs(
    signatures: DataFrame, rows_per_band: int = 2
) -> DataFrame:
    """Banded LSH: ids sharing any band bucket become candidates (i<j).

    Bands are hashed to one long each and exploded -> the join key is
    (band_index, band_hash): a pure shuffle join, no driver state.
    """
    exploded = minhash_band_index(signatures, rows_per_band=rows_per_band)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.2,
    shingle_n: int = 3,
    num_hashes: int = 64,
    rows_per_band: int = 2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle -> sign -> band ->
    candidate join -> EXACT Jaccard verification of candidates only.

    Output (i, j, jaccard) with jaccard >= threshold. Recall is the
    banding probability 1-(1-t^r)^b (unit-tested against the exact
    quadratic pairs); precision is exact by construction.

    Internally shingles are reduced to 64-bit hashes right after the
    explode: signatures, band joins, and the exact set-intersection
    verification all operate on longs, so the persisted relation and
    every downstream shuffle carry 8-byte keys instead of n-word
    strings. Jaccard over hashed shingles equals Jaccard over the
    strings absent a 64-bit collision (probability ~d^2/2^65 for d
    distinct shingles — irrelevant below ~10^9).
    """
    # checkpointed: the hashed-shingle relation feeds the signature agg
    # AND both sides of candidate verification — without it the
    # parse+explode lineage recomputes four times. localCheckpoint
    # (lazy) rather than Dataset.persist: storage is RDD-level, so
    # Spark's ContextCleaner reclaims the blocks once the returned
    # lineage is garbage collected (a CacheManager entry would leak
    # until an explicit unpersist in long-lived sessions).
    sh = hashed_shingles(
        df, id_col, text_col, n=shingle_n, max_shingle_freq=max_shingle_freq
    ).localCheckpoint(eager=False)
    sigs = minhash_signatures(sh, num_hashes=num_hashes)
    # cands checkpointed too: the verifier references the candidate
    # relation THREE times (touched-i, touched-j, the final pair join),
    # and without it each reference replays the 64-min-agg and the
    # band self-join — measured ~1.9x the whole pipeline's runtime.
    cands = lsh_candidate_pairs(sigs, rows_per_band=rows_per_band).localCheckpoint(
        eager=False
    )
    return ngram_jaccard_pairs(sh, threshold, candidates=cands, candidates_distinct=True)


def estimated_jaccard_pairs(
    cand: DataFrame, sigs_i: DataFrame, sigs_j: DataFrame, threshold: float
) -> DataFrame:
    """Signature-estimated Jaccard for candidate (i, j) pairs: the
    fraction of agreeing minhash components is an unbiased estimator of
    the true Jaccard (the classic Broder '97 property), so no shingle
    sets — and therefore no document text — are needed at verify time.
    ``sigs_i``/``sigs_j`` are (id, mh*) relations covering the i and j
    sides. Output (i, j, est_jaccard >= threshold).
    """
    sig_cols = [c for c in sigs_i.columns if c.startswith("mh")]
    k = len(sig_cols)
    a = sigs_i.select(
        F.col("id").alias("i"), *[F.col(c).alias(f"a_{c}") for c in sig_cols]
    )
    b = sigs_j.select(
        F.col("id").alias("j"), *[F.col(c).alias(f"b_{c}") for c in sig_cols]
    )
    agree = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in sig_cols
    )
    return (
        cand.select("i", "j")
        .distinct()
        .join(a, "i")
        .join(b, "j")
        .withColumn("est_jaccard", F.round(agree / F.lit(k), 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("i", "j", "est_jaccard")
    )


def dedup_incremental(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str,
    text_col: str,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup: a new batch against the corpus's seen-
    fingerprint table — the production flow where the corpus is too big
    to re-scan per increment.

    Returns (fresh_docs, fingerprint_delta): rows of ``new_docs`` that
    are new both within the batch (min-id survivor) and against
    ``seen_fingerprints`` (one column ``fp``), plus the fingerprint
    rows to append to the seen table. Two anti-join-able shuffles on
    the 128-bit fingerprint, never on the text payload.

    ``materialize=True`` localCheckpoints the anti-join survivor set
    before deriving the two outputs, so a caller consuming BOTH (the
    streaming job: sinks + index append) computes the md5/window/
    anti-join lineage — including the scan of the growing fingerprint
    index — exactly once. RDD-level checkpoint storage is reclaimed by
    Spark's ContextCleaner when the result is garbage collected
    (unlike ``Dataset.persist``, whose CacheManager entry survives
    until an explicit ``unpersist``).
    """
    fp = F.md5(F.col(text_col))
    within_batch = (
        new_docs.withColumn("fp", fp)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("fp").orderBy(F.col(id_col))
            ),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    fresh = within_batch.join(seen_fingerprints, "fp", "left_anti")
    if materialize:
        fresh = fresh.localCheckpoint(eager=False)
    delta = fresh.select("fp")
    return fresh.drop("fp"), delta


def duplicate_clusters(
    ids: DataFrame, pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document
    gets a ``cluster`` id (the minimum member id), so dedup keeps one
    canonical doc per cluster — the standard final step after pairwise
    similarity (pairs alone can chain: a~b, b~c => {a,b,c} even if a
    and c are not directly similar).

    Algorithm: iterative min-label propagation (each round every node
    takes the min label among itself and its neighbors), converging in
    O(component diameter) rounds — near-dup clusters are shallow, so
    a handful of join rounds suffices. Each round is one broadcast-or-
    shuffle join + one aggregation; no driver-side graph state. Stops
    early when labels stop changing.

    ``ids``: one column ``id``; ``pairs``: columns ``i``, ``j``.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iterations`` rounds (a component whose diameter exceeds the
    budget): returning the intermediate labels would silently split one
    true cluster into several. Raise the budget for unusually chainy
    pair sets — rounds are O(diameter), so 20 covers any realistic
    near-dup graph.
    """
    edges = (
        pairs.select(F.col("i").alias("a"), F.col("j").alias("b"))
        .unionByName(pairs.select(F.col("j").alias("a"), F.col("i").alias("b")))
        .distinct()
    )
    # materialize the edge list ONCE: every propagation round joins
    # against it, and `pairs` is typically the output of an expensive
    # candidate pipeline (LSH bands, within-cluster cosine) — without
    # this, that whole pipeline re-executes once per round (measured
    # ~10x wall-clock on the semantic-dedup path). Same fail-fast
    # trade as the per-round checkpoints below: blocks are not
    # recoverable, executor loss fails the job loudly.
    edges = edges.localCheckpoint(eager=True)
    labels = ids.select(F.col("id"), F.col("id").alias("cluster"))
    changed = 1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("cluster").alias("n_min"))
        )
        nxt = F.least(
            F.col("cluster"), F.coalesce(F.col("n_min"), F.col("cluster"))
        )
        # the convergence flag is computed IN the round's projection —
        # the old label sits on the same row pre-least, so a
        # did-anything-change probe needs no old-vs-new re-join (one
        # shuffle join per round saved; the probe is a filter over the
        # just-checkpointed relation)
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                "id",
                nxt.alias("cluster"),
                (nxt != F.col("cluster")).alias("__chg"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # truncate lineage
        changed = new_labels.where(F.col("__chg")).limit(1).count()
        labels = new_labels.select("id", "cluster")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters did not converge within {max_iterations} "
            "iterations (a component's diameter exceeds the budget); "
            "raise max_iterations"
        )
    return labels


def duplicate_clusters_star(
    ids: DataFrame, pairs: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Connected components in O(log^2 n) ROUNDS via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — same output contract as
    :func:`duplicate_clusters` (id, cluster = min member id), but
    round count is independent of component DIAMETER, so million-node
    chains converge in ~20 rounds where min-label propagation needs a
    round per hop. This is the scale path for pathological (chainy)
    duplicate graphs; for the shallow clusters near-dup pairs usually
    form, plain label propagation does fewer total shuffles.

    Each round is two grouped-min joins over the current edge list;
    convergence is detected via an order-independent edge-set
    fingerprint (count + sum of pair hashes — a change collides with
    probability ~2^-64). Edges are localCheckpointed per round to
    truncate the iterative lineage.
    """
    # restrict edges to KNOWN ids (same contract as duplicate_clusters,
    # which drops edges to unlabeled nodes): without this, a pair
    # referencing an id absent from `ids` would bridge components and
    # could label a cluster with an id no input row has
    known = ids.select("id")
    pairs = (
        pairs.join(known, pairs.i == known.id, "left_semi")
        .join(known, pairs.j == known.id, "left_semi")
    )
    sym = (
        pairs.select(F.col("i").alias("u"), F.col("j").alias("v"))
        .unionByName(pairs.select(F.col("j").alias("u"), F.col("i").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        # Γ(u) needs BOTH directions (small_star emits directed
        # edges); m(u) = min over Γ(u) ∪ {u}; connect strictly-larger
        # neighbors of u to m(u)
        es = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        m = (
            es.unionByName(es.select(F.col("u"), F.col("u").alias("v")))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        return (
            es.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # direct each edge large->small, then connect u and all its
        # (smaller) neighbors to the minimum of the neighborhood
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = d.groupBy("u").agg(F.min("v").alias("m"))
        joined = d.join(m, "u")
        out = (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(joined.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        return out

    def fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a long sum of 64-bit hashes overflows ANSI
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    edges = sym.localCheckpoint(eager=True)
    prev = None
    for _ in range(max_iterations):
        edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        cur = fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"duplicate_clusters_star did not converge within "
            f"{max_iterations} iterations; raise max_iterations"
        )
    # converged: edges form stars pointing at each component's min
    label = edges.groupBy("u").agg(F.min("v").alias("cluster"))
    return (
        ids.join(label, ids.id == label.u, "left")
        .select(
            "id", F.coalesce(F.col("cluster"), F.col("id")).alias("cluster")
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document over distinct whitespace tokens.

    bit_b(doc) = sign of sum over tokens of (+1 if bit b of
    xxhash64(token) else -1); assembled into one long column
    ``simhash``. All JVM expressions, one aggregation.
    """
    toks = _widen(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " ", -1))).alias("tok"),
    ).where(F.col("tok") != "")
    h = F.xxhash64("tok")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = toks.groupBy("id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        contrib = F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long") * (2**b if b < 63 else -(2**63))).otherwise(0)
        sim = contrib if sim is None else sim + contrib
    return sums.select("id", sim.alias("simhash"))


def simhash_near_pairs(
    simhash_df: DataFrame,
    max_hamming: int = 3,
    n_chunks: int | None = None,
    max_chunk_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit hash into ``n_chunks`` pieces;
    any pair within hamming <= n_chunks-1 shares at least one identical
    chunk, so an equi-join per chunk finds all candidates, then the
    exact popcount(XOR) filter keeps true matches. Same join shape as
    LSH -> same scale profile.

    ``n_chunks`` defaults to max_hamming+1 — the minimum that makes the
    pigeonhole guarantee hold (fewer chunks silently lose recall;
    more chunks only add candidate volume).

    ``max_chunk_freq`` is the bucket-skew guard (the simhash analogue
    of :func:`shingles`'s ``max_shingle_freq``): a (chunk_idx,
    chunk_val) bucket shared by more than that many documents is
    dropped before the self-join — without it, a degenerate chunk
    value (e.g. the all-zeros chunk every very-short document
    produces) makes that bucket's self-join QUADRATIC in its
    membership. RECALL CONSEQUENCE: a pair whose ONLY shared chunk
    lives in a dropped bucket is lost; pairs sharing any surviving
    chunk are unaffected. Boilerplate-heavy corpora trade exactly
    that long-tail recall for a bounded join, the same bargain as
    ``max_shingle_freq``.
    """
    if n_chunks is None:
        n_chunks = max_hamming + 1
    if n_chunks <= max_hamming:
        raise ValueError(
            f"pigeonhole requires n_chunks > max_hamming (got {n_chunks} <= {max_hamming})"
        )
    chunk_bits = 64 // n_chunks
    # all-ones for a full-width chunk (2^64-1 overflows a signed long)
    mask = (1 << chunk_bits) - 1 if chunk_bits < 64 else -1
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * chunk_bits).bitwiseAND(F.lit(mask))
            for i in range(n_chunks)
        ]
    )
    exploded = simhash_df.select(
        "id", "simhash", F.posexplode(chunks).alias("chunk_idx", "chunk_val")
    )
    if max_chunk_freq is not None:
        freq = exploded.groupBy("chunk_idx", "chunk_val").agg(
            F.count(F.lit(1)).alias("__f")
        )
        exploded = exploded.join(
            freq.where(F.col("__f") <= max_chunk_freq),
            ["chunk_idx", "chunk_val"],
        ).drop("__f")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("i"),
            F.col("b.id").alias("j"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
