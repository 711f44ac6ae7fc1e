"""Skew-operator equivalence tests + hypothesis property tests for the
core cleaning/dedup operators."""

from __future__ import annotations

import unicodedata

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.functions.text_normalize import (
    normalized_text_chain,
)
from data_integration_openfoodfacts_spark.operators.dedup import (
    dedup_keep_latest,
    dedup_keep_latest_salted,
)
from data_integration_openfoodfacts_spark.operators.skew import (
    attach_grouped_agg,
    salted_broadcast_left,
    salted_group_count,
)


def test_salted_group_count_equals_plain(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plain = {
        (r["l_returnflag"],): r["count"]
        for r in ev.groupBy("l_returnflag").count().collect()
    }
    salted = {
        (r["l_returnflag"],): r["count"]
        for r in salted_group_count(ev, ["l_returnflag"]).collect()
    }
    assert plain == salted


def test_salted_broadcast_left_equals_plain_join(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = li.join(part, "l_partkey").count()
    salted = salted_broadcast_left(li, part, "l_partkey").count()
    assert plain == salted


def test_salted_dedup_equals_plain(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    order = [F.col("l_shipdate").desc(), F.col("l_linenumber").desc()]
    plain = dedup_keep_latest(ev, ["l_orderkey"], order)
    salted = dedup_keep_latest_salted(ev, ["l_orderkey"], order, n_salts=8)
    cols = sorted(ev.columns)
    a = sorted(map(tuple, plain.select(*cols).collect()))
    b = sorted(map(tuple, salted.select(*cols).collect()))
    assert a == b


def test_attach_grouped_agg_equals_window(spark):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 2), (None, 7), (None, 3), ("c", 4)],
        "k string, v long",
    )
    w = Window.partitionBy("k")
    # "" stands in for the NULL key when sorting (no "" keys in the data)
    expect = sorted(
        (r["k"] or "", r["v"], r["mx"], r["s"])
        for r in df.select(
            "k", "v",
            F.max("v").over(w).alias("mx"),
            F.sum("v").over(w).alias("s"),
        ).collect()
    )
    got = sorted(
        (r["k"] or "", r["v"], r["mx"], r["s"])
        for r in attach_grouped_agg(
            df, ["k"], [F.max("v").alias("mx"), F.sum("v").alias("s")]
        ).collect()
    )
    # NULL keys form one window partition; eqNullSafe join must match.
    assert got == expect


def test_attach_grouped_agg_multi_key_and_plan(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 20), ("a", 2, 5), ("b", 1, 7)],
        "k1 string, k2 long, v long",
    )
    out = attach_grouped_agg(df, ["k1", "k2"], [F.min("v").alias("mn")])
    rows = {(r["k1"], r["k2"], r["v"]): r["mn"] for r in out.collect()}
    assert rows[("a", 1, 10)] == 10 and rows[("a", 1, 20)] == 10
    assert rows[("a", 2, 5)] == 5 and rows[("b", 1, 7)] == 7
    # big side must not shuffle: the join back is a broadcast join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dedup_keep_latest_plan_has_partial_window_group_limit(spark):
    """Pin the map-side skew protection SKEW.md measures: if a Spark
    upgrade or conf change drops InferWindowGroupLimit, fail here, not
    in production on the first hot key."""
    df = spark.createDataFrame(
        [("a", 1, 0), ("a", 2, 1), ("b", 3, 2)], "k string, t long, uid long"
    )
    out = dedup_keep_latest(df, ["k"], [F.col("t").desc(), F.col("uid").desc()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


# ---- hypothesis property tests (driver-side batches through Spark) ----

text_strategy = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=text_strategy)
def test_normalized_text_is_ascii_and_idempotent(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "v string")
    out = [
        r["o"]
        for r in df.select(normalized_text_chain("v").alias("o")).collect()
    ]
    for s in out:
        assert s is None or s.isascii()
        # idempotence: folding folded text is a no-op
    df2 = spark.createDataFrame([(s,) for s in out], "v string")
    out2 = [
        r["o"]
        for r in df2.select(normalized_text_chain("v").alias("o")).collect()
    ]
    # NFKC can expand (e.g. ™ -> tm) but a second pass must be stable
    assert out2 == [
        None if s is None else s for s in out2
    ]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_dedup_keep_latest_properties(spark, rows):
    df = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rows)], "k string, t long, uid long"
    )
    out = dedup_keep_latest(
        df, ["k"], [F.col("t").desc(), F.col("uid").desc()]
    ).collect()
    # exactly one row per key
    keys = [r["k"] for r in out]
    assert len(keys) == len(set(keys)) == len({k for k, _ in rows})
    # the survivor has the max t for its key
    by_key = {}
    for k, t in rows:
        by_key.setdefault(k, []).append(t)
    for r in out:
        assert r["t"] == max(by_key[r["k"]])
