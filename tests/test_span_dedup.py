"""Exact-substring span dedup (operators/span_dedup.py): planted-case
goldens, edge cases, the DuckDB differential, and plan hygiene."""

from __future__ import annotations

import pytest

from iot_sensor_data_pipeline_spark.operators.span_dedup import (
    duplicated_spans,
    remove_duplicated_spans,
)
from iot_sensor_data_pipeline_spark.plans import EXTENDED_REGISTRY
from tests.conftest import SF_SMALL
from tests.oracle_harness import compare_query

SF = "/root/testdata/sf0.01"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


W = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens


def test_cross_doc_duplicate_removed_from_both(spark):
    df = _docs(spark, [(1, f"one two {W} three"), (2, f"{W} nine ten")])
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, k=8).collect()}
    assert out[1]["text_clean"] == "one two three"
    assert out[1]["n_removed"] == 8
    assert out[2]["text_clean"] == "nine ten"
    assert out[2]["n_removed"] == 8


def test_longer_duplicate_merges_overlapping_windows(spark):
    # a 10-token duplicated substring = 3 overlapping dup 8-windows;
    # the merged interval must cut exactly the 10 tokens, once
    long = W + " india juliet"
    df = _docs(spark, [(1, f"x {long} y"), (2, f"p q {long}")])
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, k=8).collect()}
    assert out[1]["text_clean"] == "x y"
    assert out[1]["n_removed"] == 10
    assert out[2]["text_clean"] == "p q"


def test_within_doc_repetition_counts_and_cuts_both(spark):
    df = _docs(spark, [(1, f"{W} mid {W}")])
    out = remove_duplicated_spans(df, k=8).collect()[0]
    assert out["text_clean"] == "mid"
    assert out["n_removed"] == 16


def test_short_empty_and_unique_docs_untouched(spark):
    df = _docs(
        spark,
        [
            (1, "too short"),
            (2, ""),
            (3, "  padded   whitespace   here  "),
            (4, "entirely unique tokens q w e r t y u i o p"),
        ],
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, k=8).collect()}
    assert out[1]["text_clean"] == "too short" and out[1]["n_removed"] == 0
    assert out[2]["text_clean"] == "" and out[2]["n_tokens"] == 0
    # whitespace is normalized by token reassembly (documented)
    assert out[3]["text_clean"] == "padded whitespace here"
    assert out[4]["n_removed"] == 0


def test_token_boundaries_do_not_alias(spark):
    # "ab c ..." vs "a bc ..." share no 2-token span despite equal
    # concatenation without a separator
    df = _docs(spark, [(1, "ab c x1 y1 z1"), (2, "a bc x2 y2 z2")])
    assert duplicated_spans(df, k=2).count() == 0


def test_duplicated_spans_reports_occurrences(spark):
    df = _docs(spark, [(1, f"{W}"), (2, f"{W}"), (3, f"{W}")])
    rows = duplicated_spans(df, k=8).collect()
    assert len(rows) == 3 and all(r["n_occurrences"] == 3 for r in rows)
    assert {r["start"] for r in rows} == {0}


@pytest.mark.parametrize("sf", [SF, SF_SMALL])
def test_matches_duckdb_oracle(spark, sf):
    q = EXTENDED_REGISTRY["documents_span_dedup"]
    ok, msg = compare_query(spark, sf, q.fn, q.oracle)
    assert ok, msg


def test_plan_no_python_and_hash_only_shuffle(spark):
    """The corpus-count shuffle must carry hashes+ints, never text, and
    the whole pipeline stays JVM-side."""
    from iot_sensor_data_pipeline_spark.sources.tables import load_table

    df = remove_duplicated_spans(load_table(spark, SF, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_null_text_treated_as_empty(spark):
    df = _docs(spark, [(1, None), (2, f"{W} x"), (3, f"{W} y")])
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, k=8).collect()}
    assert out[1]["text_clean"] == ""
    assert out[1]["n_tokens"] == 0 and out[1]["n_removed"] == 0
    assert out[2]["text_clean"] == "x"


def _ref_span_dedup(docs: dict[int, str], k: int) -> dict[int, tuple[str, int, int]]:
    """Independent Python reference: corpus span counts -> per-doc cut."""
    from collections import Counter

    toks = {i: (t or "").split() for i, t in docs.items()}
    cnt: Counter = Counter()
    for t in toks.values():
        for s in range(len(t) - k + 1):
            cnt[tuple(t[s : s + k])] += 1
    out = {}
    for i, t in toks.items():
        removed: set[int] = set()
        for s in range(len(t) - k + 1):
            if cnt[tuple(t[s : s + k])] >= 2:
                removed.update(range(s, s + k))
        kept = [t[j] for j in range(len(t)) if j not in removed]
        out[i] = (" ".join(kept), len(t), len(removed))
    return out


def test_random_corpora_match_python_reference(spark):
    """Tiny vocabulary + small k forces dense duplication, overlap
    chains, and within-doc repeats — the adversarial regime for the
    interval-merge fold."""
    import random

    rng = random.Random(0xC0FFEE)
    vocab = ["a", "b", "c"]
    for trial in range(6):
        k = rng.choice([2, 3])
        docs = {
            i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
            for i in range(8)
        }
        expected = _ref_span_dedup(docs, k)
        df = _docs(spark, list(docs.items()))
        got = {
            r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
            for r in remove_duplicated_spans(df, k=k).collect()
        }
        assert got == expected, (trial, k, docs)
