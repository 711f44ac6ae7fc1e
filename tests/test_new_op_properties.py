"""Hypothesis property tests for the round-4 operators: matview merge
associativity and tokenizer determinism. Spark calls are batched per
example (driver-side data, one job per property check)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_integration_openfoodfacts_spark.operators.matview import (
    build_summary,
    finalize_summary,
    merge_summaries,
)

_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_settings
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]),
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=3,
        max_size=24,
    ),
    split=st.integers(min_value=1, max_value=2),
)
def test_matview_merge_associative_any_split(spark, rows, split):
    """summary(A) ⊕ summary(B) == summary(A ∪ B) for an arbitrary
    split point — the algebraic-state contract, exactly (decimal)."""
    df = spark.createDataFrame(rows, "k string, v double")
    a = spark.createDataFrame(rows[:split], "k string, v double")
    b = spark.createDataFrame(rows[split:], "k string, v double")
    merged = finalize_summary(
        merge_summaries(
            build_summary(a, ["k"], ["v"]),
            build_summary(b, ["k"], ["v"]),
            ["k"],
            ["v"],
        ),
        ["v"],
    )
    full = finalize_summary(build_summary(df, ["k"], ["v"]), ["v"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


@_settings
@given(
    docs=st.lists(
        st.text(alphabet="ab c", max_size=30),
        min_size=1,
        max_size=6,
    )
)
def test_vocab_ids_dense_and_encoding_in_range(spark, docs):
    from data_integration_openfoodfacts_spark.functions.tokenize import (
        build_vocab,
        encode_tokens,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    vocab = build_vocab(df, "doc_id", "text", vocab_size=4).collect()
    ids = sorted(r.token_id for r in vocab)
    assert ids == list(range(len(ids))), "vocab ids must be dense 0..n-1"
    enc = encode_tokens(
        df, build_vocab(df, "doc_id", "text", 4), "doc_id", "text", unk_id=4
    ).collect()
    n_tokens = sum(
        1 for d in docs for t in d.split(" ") if t != ""
    )
    assert len(enc) == n_tokens
    assert all(0 <= r.token_id <= 4 for r in enc)
