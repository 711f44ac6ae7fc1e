"""Multimodal binary-column plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
    attach_fake_media,
    decode_media,
    extract_byte_features,
    sample_frames,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    return attach_fake_media(docs, "doc_id", "text").cache()


def test_media_schema_and_meta(media):
    row = media.first()
    assert row["media_type"] in ("image", "audio", "video")
    assert row["meta"]["n_bytes"] == len(row["payload"])
    assert len(row["meta"]["content_md5"]) == 32


def test_decode_stub_raises_without_codecs(media):
    with pytest.raises(Exception, match="NotImplementedError|codecs unavailable"):
        decode_media(media, fake=False).collect()


def test_fake_decode_is_deterministic(media):
    a = decode_media(media, fake=True).collect()
    b = decode_media(media, fake=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    r = a[0]
    assert r["width"] >= 1 and r["height"] >= 1 and r["n_channels"] == 3


def test_byte_features_sum_to_one(media):
    feats = extract_byte_features(media).collect()
    for r in feats:
        assert len(r["byte_histogram"]) == 8
        assert abs(sum(r["byte_histogram"]) - 1.0) < 1e-9


def test_frame_sampling_shapes(media):
    frames = sample_frames(media, frame_bytes=64, stride=2)
    rows = frames.collect()
    assert len(rows) > 0
    assert all(r["frame_idx"] % 2 == 0 for r in rows)
    assert all(len(r["frame_bytes"]) <= 64 for r in rows)
    # only video media produce frames
    types = {r["media_id"] % 3 for r in rows}
    assert types == {2}


def test_resize_media_nearest_neighbor_math(spark):
    import numpy as np

    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        attach_fake_media,
        resize_media,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 37), (2, None)], "doc_id long, text string"
    )
    media = attach_fake_media(docs, "doc_id", "text")
    rows = {
        r.media_id: r
        for r in resize_media(media, out_w=4, out_h=3, fake=True).collect()
    }
    r = rows[1]
    assert (r.out_width, r.out_height, r.n_channels) == (4, 3, 3)
    assert len(r.pixels) == 4 * 3 * 3
    # reproduce the gather locally from the same stub buffer
    payload = b"x" * 37
    n = len(payload)
    w, h, c = n % 640 + 1, n % 480 + 1, 3
    buf = np.resize(
        np.frombuffer(payload, dtype=np.uint8), w * h * c
    ).reshape(h, w, c)
    yi = (np.arange(3) * h) // 3
    xi = (np.arange(4) * w) // 4
    assert bytes(r.pixels) == buf[yi][:, xi].tobytes()
    assert rows[2].pixels is None, "NULL payload -> NULL pixels, no crash"


def test_resize_media_real_codec_path_raises(spark):
    import pytest as _pytest

    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        attach_fake_media,
        resize_media,
    )

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with _pytest.raises(Exception, match="NotImplementedError|codecs"):
        resize_media(
            attach_fake_media(docs, "doc_id", "text"), fake=False
        ).collect()


def test_binary_simhash_neardup_vs_disjoint(spark):
    """Codec-free payload fingerprints: byte-identical payloads share
    a fingerprint, a few-byte mutation stays within a small Hamming
    distance (shared gram mass dominates the votes), and an unrelated
    payload lands far away. Sub-4-byte payloads drop out (no gram to
    vote). Plan stays JVM-only (no BatchEvalPython)."""
    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        binary_simhash,
    )

    base = bytes(range(48, 112)) * 4  # 256 bytes
    mutated = bytearray(base)
    mutated[100:104] = b"XYZW"  # 4-byte "EXIF churn"
    rows = [
        (1, bytes(base)),
        (2, bytes(base)),          # exact dup
        (3, bytes(mutated)),       # near dup
        (4, b"\x01\x02" * 128),    # unrelated
        (5, b"ab"),                # too short: no gram
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = binary_simhash(df, "media_id", "payload")
    got = {r["media_id"]: r["simhash"] for r in out.collect()}
    assert 5 not in got and set(got) == {1, 2, 3, 4}
    assert got[1] == got[2]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(got[1], got[3]) <= 4, (got[1], got[3])
    assert ham(got[1], got[4]) >= 5, (got[1], got[4])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_binary_simhash_rejects_more_than_63_bits(spark):
    """The bit-width precondition raises (an assert would vanish under
    ``python -O``): 64 vote bits overflow the BIGINT fingerprint."""
    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        binary_simhash,
    )

    df = spark.createDataFrame(
        [(1, b"abcdefgh")], "media_id long, payload binary"
    )
    with pytest.raises(ValueError, match="bits=64"):
        binary_simhash(df, "media_id", "payload", bits=64)


def test_binary_simhash_single_vote_aggregation(spark):
    """Round-14 optimization pin: gram dedup + the ±1 bit votes happen
    in ONE Arrow `mapInPandas` pass emitting a single partial-vote row
    per payload — no hex-gram Generate fan-out (~16x payload bytes
    materialized in round 13's shape), no gram-distinct exchange. Plan
    budget: exactly 1 shuffle exchange (the map-side-combined
    groupBy(id) of the partials), 0 Generate, exactly 1 MapInPandas,
    and the Arrow pass sees ONLY (id, payload) — payload-adjacent
    metadata columns must not cross the Python boundary."""
    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        binary_simhash,
    )

    df = spark.createDataFrame(
        [(1, bytes(range(32)), "extra")],
        "media_id long, payload binary, other string",
    )
    out = binary_simhash(df, "media_id", "payload")
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, plan
    assert plan.count("Generate") == 0, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "other" not in plan.split("MapInPandas", 1)[1].split(
        "\n", 1
    )[0], plan


def test_binary_simhash_values_match_jvm_reference(spark):
    """Value pin for the round-14 Arrow rewrite: the mapInPandas vote
    pass must reproduce the old JVM explode+distinct+agg plan's
    simhash values bit-for-bit (same uppercase-hex gram strings, same
    md5-prefix hash, same ±1 votes over per-payload DISTINCT grams)."""
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        binary_simhash,
    )
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (  # noqa: E501
        md5_long,
    )

    rows = [
        (1, bytes(range(48, 112)) * 4),
        (2, b"abcdabcdabcd"),      # heavy intra-payload gram repeats
        (3, b"\x00\x01\x02\x03"),  # exactly one gram
        (4, bytes(range(256))),    # all byte values, incl. non-ascii hex
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r["simhash"]
        for r in binary_simhash(df, "media_id", "payload").collect()
    }

    # the pre-round-14 JVM reference shape, inlined
    bits, ngram_bytes = 16, 4
    grams = (
        df.filter(F.length("payload") >= ngram_bytes)
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.length("payload") - ngram_bytes)
            ).alias("i"),
            F.hex(F.col("payload")).alias("hx"),
        )
        .select(
            "media_id",
            F.expr(f"substring(hx, i * 2 + 1, {ngram_bytes * 2})").alias(
                "gram"
            ),
        )
        .distinct()
    )
    hashed = grams.withColumn("h", md5_long(F.col("gram")) % (2**bits))
    bitsums = hashed.groupBy("media_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))) * 2 - 1
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    simhash = reduce(
        add,
        [
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(bits)
        ],
    )
    want = {
        r["media_id"]: r["simhash"]
        for r in bitsums.select(
            "media_id", simhash.cast("long").alias("simhash")
        ).collect()
    }
    assert got == want
