"""Unit tests: image codec/phash/PSNR, bloom seen-set, politeness skew."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from webindex_spark.operators import images as img_ops
from webindex_spark.operators import politeness, seen as seen_ops, synth

# ------------------------------------------------------------------ images


def test_png_roundtrip():
    px = synth.image_pixels("com.img0>>o>/i/1.png", w=37, h=23)  # odd sizes
    data = img_ops.png_encode(px)
    back = img_ops.png_decode(data)
    assert np.array_equal(px, back)


def test_lossy_psnr_above_bar():
    px = synth.image_pixels("com.img1>>o>/i/2.png")
    back = np.frombuffer(img_ops.lossy_encode(px), dtype=np.uint8).reshape(px.shape)
    p = img_ops.psnr(px, back)
    assert 40.0 <= p < 60.0


def test_phash_deterministic_and_discriminative():
    a = img_ops.average_phash(synth.image_pixels("x"))
    b = img_ops.average_phash(synth.image_pixels("x"))
    c = img_ops.average_phash(synth.image_pixels("y"))
    assert a == b
    assert a != c
    assert -(1 << 63) <= a < (1 << 63)


def test_decode_unknown_fmt_raises():
    with pytest.raises(NotImplementedError):
        img_ops.decode(b"", 1, 1, "jpeg")


def test_verify_images_dataframe(spark):
    ids = synth.all_image_ids(4, 10, 2)
    images = spark.createDataFrame(synth.gen_images_pandas(ids))
    out = img_ops.verify_images(images, synth.image_pixels, synth.image_caption)
    rows = out.collect()
    assert len(rows) == len(ids)
    assert all(r["ok"] for r in rows)
    assert all(r["psnr_db"] >= 40.0 for r in rows)


def test_verify_catches_corruption(spark):
    ids = synth.all_image_ids(2, 6, 2)
    pdf = synth.gen_images_pandas(ids)
    pdf.loc[0, "caption"] = "tampered"
    out = img_ops.verify_images(
        spark.createDataFrame(pdf), synth.image_pixels, synth.image_caption
    ).collect()
    bad = [r for r in out if not r["ok"]]
    assert len(bad) == 1 and not bad[0]["caption_ok"]


# ------------------------------------------------------------------- bloom


def test_bloom_no_false_negatives_and_exactness(spark):
    n_parts, bits, k = seen_ops.bloom_params(2000, 0.01, 8)
    inserted = [f"com.x>>o>/{i}" for i in range(500)]
    probes = [f"com.x>>o>/{i}" for i in range(1000)]  # half seen, half new
    seen_df = spark.createDataFrame([(u,) for u in inserted], ["uri"])
    cand = spark.createDataFrame([(u,) for u in probes], ["uri"])
    bloom = seen_ops.empty_bloom(spark, n_parts, bits)
    bloom = seen_ops.bloom_insert(seen_df, bloom, "uri", k, bits, n_parts)

    probed = seen_ops.bloom_probe(cand, bloom, "uri", k, bits, n_parts).collect()
    got = {r["uri"]: r["maybe_seen"] for r in probed}
    # zero false negatives
    assert all(got[u] for u in inserted)
    # fpp sane (bound is 1%; allow slack for small n)
    fp = sum(got[u] for u in probes[500:])
    assert fp <= 25

    # two-tier filter is EXACT (bloom fps removed by the anti-join)
    unseen = seen_ops.filter_unseen(
        cand, seen_df, bloom, "uri", params=seen_ops.BloomParams(n_parts, bits, k)
    )
    assert {r["uri"] for r in unseen.collect()} == set(probes[500:])


def test_probe_modes_agree(spark):
    """The JVM/broadcast probe and the numpy/cogroup probe implement the
    same index math — bit-for-bit identical verdicts."""
    params = seen_ops.bloom_params(500, 0.01, 4)
    n_parts, bits, k = params
    inserted = spark.createDataFrame([(f"u{i}",) for i in range(300)], ["uri"])
    probes = spark.createDataFrame([(f"u{i}",) for i in range(600)], ["uri"])
    bloom = seen_ops.bloom_insert(
        inserted, seen_ops.empty_bloom(spark, n_parts, bits), "uri", k, bits, n_parts
    ).cache()
    a = {
        r["uri"]: r["maybe_seen"]
        for r in seen_ops._probe_jvm(probes, bloom, "uri", params).collect()
    }
    b = {
        r["uri"]: r["maybe_seen"]
        for r in seen_ops._probe_cogroup(probes, bloom, "uri", params).collect()
    }
    assert a == b
    assert all(a[f"u{i}"] for i in range(300))


def test_filter_unseen_cogroup_path(spark, monkeypatch):
    """Force the giant-filter (cogroup/numpy) path through filter_unseen
    and verify exactness still holds."""
    monkeypatch.setattr(seen_ops, "BROADCAST_BLOOM_MAX_BYTES", 0)
    n_parts, bits, k = seen_ops.bloom_params(1000, 0.01, 4)
    inserted = [f"com.x>>o>/{i}" for i in range(200)]
    probes = [f"com.x>>o>/{i}" for i in range(400)]
    seen_df = spark.createDataFrame([(u,) for u in inserted], ["uri"])
    cand = spark.createDataFrame([(u,) for u in probes], ["uri"])
    bloom = seen_ops.bloom_insert(
        seen_df, seen_ops.empty_bloom(spark, n_parts, bits), "uri", k, bits, n_parts
    )
    unseen = seen_ops.filter_unseen(
        cand, seen_df, bloom, "uri", params=seen_ops.BloomParams(n_parts, bits, k)
    )
    assert {r["uri"] for r in unseen.collect()} == set(probes[200:])


def test_bloom_insert_idempotent(spark):
    n_parts, bits, k = seen_ops.bloom_params(100, 0.01, 4)
    uris = spark.createDataFrame([(f"u{i}",) for i in range(50)], ["uri"])
    b0 = seen_ops.empty_bloom(spark, n_parts, bits)
    b1 = seen_ops.bloom_insert(uris, b0, "uri", k, bits, n_parts)
    b2 = seen_ops.bloom_insert(uris, b1, "uri", k, bits, n_parts)
    m1 = {r["pid"]: tuple(r["words"]) for r in b1.collect()}
    m2 = {r["pid"]: tuple(r["words"]) for r in b2.collect()}
    assert m1 == m2
    assert len(m1) == n_parts


# -------------------------------------------------------------- politeness


def test_salted_schedule_equals_naive_under_skew(spark):
    """90%-one-host frontier: the salted two-phase top-k must produce the
    IDENTICAL schedule to a naive single window."""
    from pyspark.sql import Window

    rows = []
    for i in range(900):
        rows.append(("hot.com", f"com.hot>>o>/{i:04d}", float((i * 37) % 101), 1.0))
    for h in range(10):
        for i in range(10):
            rows.append((f"h{h}.com", f"com.h{h}>>o>/{i}", float(i), 2.0))
    df = spark.createDataFrame(rows, ["host", "uri", "priority", "crawl_delay"])

    got = politeness.schedule(df, budget=7, n_salts=8)
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("uri"))
    naive = (
        df.withColumn("slot", F.row_number().over(w).cast("long") - 1)
        .where(F.col("slot") < 7)
        .withColumn("tick", (F.col("slot") * F.col("crawl_delay")).cast("double"))
    )
    a = sorted(tuple(r) for r in got.select("host", "uri", "slot", "tick").collect())
    b = sorted(tuple(r) for r in naive.select("host", "uri", "slot", "tick").collect())
    assert a == b
    # budget respected
    per_host = {}
    for host, _, _, _ in a:
        per_host[host] = per_host.get(host, 0) + 1
    assert max(per_host.values()) == 7
