"""Partitioned cuckoo-filter seen tier: no false negatives, bounded false
positives, EXACT deletion (the capability Bloom lacks), JVM-probe ==
numpy-probe parity, the one probe-regime cap shared with Bloom, and the
two-tier filter_unseen contract."""

import pyspark.sql.functions as F
import pytest

from webindex_spark.operators import cuckoo
from webindex_spark.operators import seen as seen_ops


def _uris(spark, lo, hi, tag="u"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"com.{tag}>>o>/p/"), F.col("id").cast("string")).alias("uri")
    )


@pytest.fixture(scope="module")
def built(spark):
    n_parts, m = cuckoo.cuckoo_params(20_000, 8)
    table = cuckoo.cuckoo_insert(
        _uris(spark, 0, 10_000), cuckoo.empty_cuckoo(spark, n_parts, m),
        "uri", m, n_parts,
    ).localCheckpoint()
    return table, m, n_parts


def test_no_false_negatives_and_fpp(spark, built):
    table, m, n_parts = built
    probed = cuckoo.cuckoo_probe(_uris(spark, 0, 10_000), table, "uri", m, n_parts)
    assert probed.where(~F.col("maybe_seen")).count() == 0
    fresh = cuckoo.cuckoo_probe(_uris(spark, 10_000, 30_000), table, "uri", m, n_parts)
    fp = fresh.where(F.col("maybe_seen")).count()
    assert fp / 20_000 < 0.01, fp  # 16-bit fingerprints: ~1.2e-4 expected


def test_jvm_probe_equals_numpy_probe(spark, built, monkeypatch):
    table, m, n_parts = built
    cand = _uris(spark, 9_000, 12_000)
    jvm = {r["uri"]: r["maybe_seen"]
           for r in cuckoo.cuckoo_probe(cand, table, "uri", m, n_parts).collect()}
    monkeypatch.setattr(seen_ops, "BROADCAST_BLOOM_MAX_BYTES", 0)
    npy = {r["uri"]: r["maybe_seen"]
           for r in cuckoo.cuckoo_probe(cand, table, "uri", m, n_parts).collect()}
    assert jvm == npy


def test_probe_regime_follows_the_one_cap(spark, built, monkeypatch):
    """seen.BROADCAST_BLOOM_MAX_BYTES is the regime cap for the cuckoo
    tier too: setting it to 0 (how the benches and gates force the 10^10
    regime) makes a cuckoo probe plan the cogroup numpy kernel."""
    table, m, n_parts = built

    def plan():
        probed = cuckoo.cuckoo_probe(_uris(spark, 0, 100), table, "uri", m, n_parts)
        return probed._jdf.queryExecution().executedPlan().toString()

    assert "FlatMapCoGroupsInPandas" not in plan()
    monkeypatch.setattr(seen_ops, "BROADCAST_BLOOM_MAX_BYTES", 0)
    assert "FlatMapCoGroupsInPandas" in plan()


def test_delete_is_exact(spark, built):
    table, m, n_parts = built
    gone = cuckoo.cuckoo_delete(_uris(spark, 0, 2_000), table, "uri", m, n_parts)
    probed = cuckoo.cuckoo_probe(_uris(spark, 0, 10_000), gone, "uri", m, n_parts)
    hits = {r["uri"]: r["maybe_seen"] for r in probed.collect()}
    # every remaining inserted uri still present (no collateral false
    # negatives among survivors whose fingerprints weren't shared)
    still = [u for u, seen in hits.items() if int(u.rsplit("/", 1)[1]) >= 2000]
    assert all(hits[u] for u in still)
    # the deleted block is (almost entirely) gone — only fp+bucket
    # collisions with surviving entries may linger
    deleted_hits = sum(
        1 for u, seen in hits.items() if int(u.rsplit("/", 1)[1]) < 2000 and seen
    )
    assert deleted_hits / 2_000 < 0.01, deleted_hits


def test_delete_safe_under_fingerprint_collision(spark):
    """Two DIFFERENT uris colliding on (pid, fp, bucket) both store a
    fingerprint copy (Fan et al. duplicates), so deleting one never
    un-marks the other — no false negative for an inserted item."""
    n_parts, m = 2, 8
    hashed = cuckoo.CuckooParams(n_parts, m).with_hashes(
        _uris(spark, 0, 6_000, tag="c"), "uri"
    ).collect()
    by_key, pair = {}, None
    for r in hashed:
        k = (r["pid"], r["fp"], r["i1"])
        if k in by_key and by_key[k] != r["uri"]:
            pair = (by_key[k], r["uri"])
            break
        by_key[k] = r["uri"]
    assert pair is not None, "no (pid, fp, bucket) collision in 6k uris"
    a, b = pair

    def df_of(*uris):
        return spark.createDataFrame([(u,) for u in uris], "uri string")

    table = cuckoo.cuckoo_insert(
        df_of(a, b), cuckoo.empty_cuckoo(spark, n_parts, m), "uri", m, n_parts
    )
    after_del = cuckoo.cuckoo_delete(df_of(a), table, "uri", m, n_parts)
    probed = {
        r["uri"]: r["maybe_seen"]
        for r in cuckoo.cuckoo_probe(df_of(a, b), after_del, "uri", m, n_parts).collect()
    }
    assert probed[b] is True  # the surviving item is still a member


def test_filter_unseen_two_tier_exactness(spark, built):
    table, m, n_parts = built
    seen = _uris(spark, 0, 10_000)
    cand = _uris(spark, 9_500, 11_000)
    got = {r["uri"] for r in seen_ops.filter_unseen(
        cand, seen, table, "uri", params=cuckoo.CuckooParams(n_parts, m)).collect()}
    want = {r["uri"] for r in cand.join(seen, "uri", "left_anti").collect()}
    assert got == want  # final membership EXACT regardless of filter fps


def test_insert_deterministic_table(spark):
    n_parts, m = cuckoo.cuckoo_params(2_000, 4)
    a = cuckoo.cuckoo_insert(
        _uris(spark, 0, 1_000).repartition(7),
        cuckoo.empty_cuckoo(spark, n_parts, m), "uri", m, n_parts)
    b = cuckoo.cuckoo_insert(
        _uris(spark, 0, 1_000).repartition(3).sort(F.desc("uri")),
        cuckoo.empty_cuckoo(spark, n_parts, m), "uri", m, n_parts)
    ta = {r["pid"]: tuple(r["buckets"]) for r in a.collect()}
    tb = {r["pid"]: tuple(r["buckets"]) for r in b.collect()}
    assert ta == tb  # kernel sorts by uri -> layout-independent bytes


@pytest.mark.parametrize("regime", ["broadcast", "cogroup"])
def test_crawl_with_cuckoo_filter_matches_bloom(spark, tmp_path, monkeypatch, regime):
    """The production loop runs identically under either cheap-negative
    tier, in either probe regime (final membership is exact in both;
    only the filter differs)."""
    if regime == "cogroup":
        monkeypatch.setattr(seen_ops, "BROADCAST_BLOOM_MAX_BYTES", 0)
    from webindex_spark.operators import frontier as fr
    from webindex_spark.operators import synth
    from webindex_spark.sources.snapshots import Catalog

    corpus = spark.createDataFrame(synth.gen_web_pandas(6, 8, 3, n_img_hosts=2))
    images = spark.createDataFrame(
        synth.gen_images_pandas(synth.all_image_ids(6, 8, 2))
    )
    robots = spark.createDataFrame(synth.gen_robots_pandas(6, 2))
    seeds = spark.createDataFrame(synth.gen_seeds_pandas(6, seeds_per_host=2))
    outs = {}
    for kind in ("bloom", "cuckoo"):
        cat = Catalog(str(tmp_path / kind))
        cfg = fr.CrawlConfig(
            budget=3, bloom_expected_n=10_000, bloom_partitions=8,
            filter_kind=kind,
        )
        fr.run_crawl(spark, cat, corpus, images, robots, seeds, 2, cfg)
        outs[kind] = (
            {tuple(r) for r in cat.table("fetch_log").read(spark).collect()},
            {r["uri"] for r in cat.table("seen").read(spark).collect()},
        )
    assert outs["bloom"] == outs["cuckoo"]


def test_reinsert_consumes_capacity(spark):
    """The multiset contract's failure mode: re-inserting the SAME uris
    across batches stores one duplicate fingerprint per pass (that is
    what makes deletion collision-safe), so an insert/delete-unbalanced
    caller must eventually hit the over-capacity error — loudly, never a
    silent drop (cuckoo_insert docstring)."""
    n_parts, m = cuckoo.cuckoo_params(600, 2)
    uris = _uris(spark, 0, 500)
    table = cuckoo.empty_cuckoo(spark, n_parts, m)
    with pytest.raises(Exception, match="over capacity"):
        for _ in range(12):  # 4 slots/bucket -> duplicates exhaust space
            table = cuckoo.cuckoo_insert(uris, table, "uri", m, n_parts)
            table = table.localCheckpoint()
    # balanced usage at the same pressure is fine: insert -> delete loop
    table = cuckoo.empty_cuckoo(spark, n_parts, m)
    for _ in range(12):
        table = cuckoo.cuckoo_insert(uris, table, "uri", m, n_parts)
        table = cuckoo.cuckoo_delete(uris, table, "uri", m, n_parts)
        table = table.localCheckpoint()
    assert table.count() == n_parts
