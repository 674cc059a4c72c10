"""Exact-substring span deduplication (the ExactSubstr mode of
"Deduplicating Training Data Makes Language Models Better", Lee et al.
2022): find token spans of length >= k that occur more than once across
the corpus and cut every occurrence out of the text.

The paper builds a suffix array — inherently single-machine. The
Spark-first re-expression: every length-k token window is a corpus-wide
key; a window is duplicated iff its key occurs >= 2 times. A duplicated
substring of length >= k is exactly a maximal run of duplicated
length-k windows, so removing all tokens covered by a duplicated window
removes precisely the tokens inside duplicated substrings of length
>= k (the suffix-array semantics at granularity k).

Dataflow (everything JVM-side, no Python):

1. tokenize         — ``split`` + ``filter`` (codegen)
2. window keys      — tokens hash once (``xxhash64`` per token), then
                      ``transform(sequence(0, n-k), i ->
                      xxhash64(slice(token_hashes, i+1, k)))``: the
                      shuffle carries 8-byte hashes + int positions,
                      never text, and each window hashes 8k bytes
                      instead of re-concatenating k strings
3. corpus count     — hash-aggregate on the window key (map-side
                      partial combine), keep count >= 2
4. mark             — spans semi-join the duplicated-key set; per doc,
                      ``sort_array(collect_list(start))``
5. cut + reassemble — fold sorted starts into merged [s, e) intervals
                      (``aggregate``), keep tokens outside every
                      interval, ``concat_ws`` back to text

100 TB posture: steps 3 and 4 shuffle O(total tokens) fixed-width rows —
the unavoidable cost of corpus-wide exact matching — but only ints; the
interval merge makes the per-token membership test O(#dup regions), not
O(#dup windows). Keys are 64-bit hashes, so two distinct spans collide
with probability ~n^2/2^65 (documented, negligible; a collision can only
remove a non-duplicated span, never corrupt text outside it).

Whitespace is normalized to single spaces by reassembly (tokens are the
unit of the algorithm); ``n_removed`` reports cut tokens per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from iot_sensor_data_pipeline_spark.functions.text import ws_tokens as _tokens


def _doc_spans(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, start, span_hash) for every k-token window, 0-based starts.

    Each token is hashed ONCE (xxhash64 of the string) and the window
    key is xxhash64 over the k-long slice of token hashes — O(8k) bytes
    hashed per window instead of re-concatenating k token STRINGS per
    window (the pre-r14 form: slice + concat_ws + hash of ~k*avg_len
    chars per window — measured ~1.3x slower on the span scan at sf0.1,
    and the gap grows with token length). Token boundaries cannot alias
    ("ab c" vs "a bc") because tokens are hashed individually before
    windowing. Collision posture is unchanged: two distinct windows
    collide only through a 64-bit token-hash or window-hash collision
    (~n^2/2^65 — the documented negligible over-removal direction)."""
    toks = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("__toks"))
    hashed = toks.select(
        F.col(id_col),
        F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th"),
    )
    n = F.size("__th")
    return (
        hashed.where(n >= k)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.xxhash64(F.slice("__th", i + 1, k)).alias(
                            "span_hash"
                        ),
                    ),
                )
            ).alias("s"),
        )
        .select(id_col, "s.start", "s.span_hash")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """All (doc, start) positions whose k-token window occurs at least
    ``min_count`` times corpus-wide (within-doc repeats count, as in the
    reference algorithm). Start positions are 0-based token offsets.

    Returns (id, start, span_hash, n_occurrences).
    """
    # checkpointed: the span relation feeds BOTH the corpus-wide count
    # aggregation and the probe side of the join back onto it — without
    # it the tokenize+explode lineage (the expensive part) runs twice.
    # Measured ~1.3x end-to-end at sf0.1. Lazy RDD storage, reclaimed
    # by the ContextCleaner (same discipline as the minhash pipeline).
    spans = _doc_spans(df, id_col, text_col, k).localCheckpoint(eager=False)
    counts = (
        spans.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )
    return spans.join(counts, "span_hash").select(
        id_col, "start", "span_hash", "n_occurrences"
    )


def _merge_starts_to_intervals(starts: Column, k: int) -> Column:
    """Fold a SORTED array of 0-based window starts into merged
    [s, e) token intervals: window p covers [p, p+k)."""
    empty = F.array().cast("array<struct<s:int,e:int>>")
    iv = lambda s, e: F.struct(s.cast("int").alias("s"), e.cast("int").alias("e"))
    return F.aggregate(
        starts,
        empty,
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(iv(F.element_at(acc, -1)["s"], p + k)),
            ),
        ).otherwise(F.concat(acc, F.array(iv(p, p + k)))),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cut every token covered by a corpus-duplicated k-window out of
    each document.

    Returns (id, text_clean, n_tokens, n_removed); docs shorter than k
    tokens pass through untouched (whitespace-normalized).
    """
    dup = duplicated_spans(df, id_col, text_col, k, min_count)
    return _cut_documents(df, dup, id_col, text_col, k)


def _cut_documents(
    df: DataFrame, dup_positions: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Apply the interval-merge cut: remove every token of ``df`` covered
    by a (id, start) row of ``dup_positions``."""
    toks = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("__toks"))
    per_doc = dup_positions.groupBy(id_col).agg(
        F.sort_array(F.collect_list("start")).alias("__starts")
    )
    joined = toks.join(per_doc, id_col, "left_outer").withColumn(
        "__iv",
        _merge_starts_to_intervals(
            F.coalesce("__starts", F.array().cast("array<int>")), k
        ),
    )
    n = F.size("__toks")
    kept = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda j: ~F.exists("__iv", lambda v: (v["s"] <= j) & (j < v["e"])),
    )
    # sequence(0, -1) on an empty doc yields [0, -1] descending — guard
    kept = F.when(n > 0, kept).otherwise(F.array().cast("array<int>"))
    return joined.select(
        F.col(id_col),
        F.concat_ws(
            " ", F.transform(kept, lambda j: F.element_at("__toks", j + 1))
        ).alias("text_clean"),
        n.alias("n_tokens"),
        (n - F.size(kept)).alias("n_removed"),
    )
