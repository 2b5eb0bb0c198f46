"""Crawl-loop correctness: engine vs pure-python model, plus resume.

The north-rule contract: under the same seed list and politeness budget
the engine matches the model's crawl ordering (fetch_log) and URL-seen
membership EXACTLY; a killed run resumes from the last committed snapshot
without refetching.
"""

from __future__ import annotations

import pytest

from webindex_spark.operators import frontier as frontier_ops
from webindex_spark.operators import synth
from webindex_spark.sources.snapshots import Catalog, SnapshotTable
from tests.model_crawler import ModelCrawler

N_HOSTS = 8
PAGES_PER_HOST = 10
FANOUT = 3
BUDGET = 2
N_EPOCHS = 3
N_IMG_HOSTS = 3


@pytest.fixture(scope="module")
def world(spark):
    corpus_pd = synth.gen_web_pandas(N_HOSTS, PAGES_PER_HOST, FANOUT, n_img_hosts=N_IMG_HOSTS)
    images_pd = synth.gen_images_pandas(
        synth.all_image_ids(N_HOSTS, PAGES_PER_HOST, N_IMG_HOSTS)
    )
    robots_pd = synth.gen_robots_pandas(N_HOSTS, N_IMG_HOSTS)
    seeds_pd = synth.gen_seeds_pandas(N_HOSTS, seeds_per_host=2)
    corpus = spark.createDataFrame(corpus_pd)
    images = spark.createDataFrame(images_pd)
    robots = spark.createDataFrame(robots_pd)
    seeds = spark.createDataFrame(seeds_pd)
    return corpus_pd, images_pd, robots_pd, seeds_pd, corpus, images, robots, seeds


def run_model(corpus_pd, images_pd, robots_pd, seeds_pd, n_epochs=N_EPOCHS):
    m = ModelCrawler(corpus_pd, images_pd, robots_pd, BUDGET, 0.5)
    for r in seeds_pd.itertuples():
        m.add_seed(r.url, float(r.priority), int(r.discovered_epoch))
    m.run(n_epochs)
    return m


def crawl_cfg():
    return frontier_ops.CrawlConfig(
        budget=BUDGET, bloom_expected_n=5000, bloom_partitions=8,
    )


@pytest.fixture(scope="module")
def crawled(spark, world, tmp_path_factory):
    corpus_pd, images_pd, robots_pd, seeds_pd, corpus, images, robots, seeds = world
    cat = Catalog(str(tmp_path_factory.mktemp("crawl")))
    frontier_ops.run_crawl(
        spark, cat, corpus, images, robots, seeds, N_EPOCHS, crawl_cfg()
    )
    model = run_model(corpus_pd, images_pd, robots_pd, seeds_pd)
    return cat, model


def test_fetch_log_matches_model(spark, crawled):
    cat, model = crawled
    got = sorted(
        (r["epoch"], r["host"], r["uri"], r["slot"], r["tick"], r["is_image"])
        for r in cat.table("fetch_log").read(spark).collect()
    )
    expected = sorted(model.fetch_log)
    assert len(got) > 0
    assert got == expected


def test_seen_matches_model(spark, crawled):
    cat, model = crawled
    got = {r["uri"] for r in cat.table("seen").read(spark).collect()}
    assert got == model.seen


def test_frontier_matches_model(spark, crawled):
    cat, model = crawled
    got = {
        r["uri"]: (r["priority"], r["discovered_epoch"])
        for r in cat.table("frontier").read(spark).collect()
    }
    expected = {
        uri: (row["priority"], row["discovered_epoch"])
        for uri, row in model.frontier.items()
    }
    assert got == expected


def test_uri_counts_match_model(spark, crawled):
    cat, model = crawled
    got = {
        r["uri"]: (r["links_to"], r["docs"])
        for r in cat.table("uri_counts").read(spark).collect()
    }
    expected = {
        u: (c[0], c[1]) for u, c in model.uri_counts.items() if c != [0, 0]
    }
    assert got == expected


def test_domain_counts_match_model(spark, crawled):
    cat, model = crawled
    got = {
        r["rev_domain"]: r["pagecount"]
        for r in cat.table("domain_counts").read(spark).collect()
    }
    assert got == model.domain_counts()


def test_fetched_images_verify(spark, crawled):
    from webindex_spark.operators import images as img_ops

    cat, model = crawled
    fetched = cat.table("fetched_images").read(spark)
    assert fetched.count() == len(model.fetched_images)
    verified = img_ops.verify_images(
        fetched, synth.image_pixels, synth.image_caption
    ).collect()
    assert len(verified) > 0
    bad = [r for r in verified if not r["ok"]]
    assert bad == []


def test_crawl_index_converges_to_batch(spark, crawled):
    """The crawl-maintained query-table index (incremental T1-T5 per epoch)
    equals a from-scratch batch build over the pages crawled so far — the
    reference's master invariant, running live inside the crawl loop."""
    import pyspark.sql.functions as F

    from webindex_spark.operators import index_batch

    cat, _ = crawled
    index_pages = cat.table("index_pages").read(spark).cache()
    got_rows = {tuple(r) for r in cat.table("index_rows").read(spark).collect()}
    buc, bdc, bir = index_batch.build_index(index_pages, cache=False)
    exp_rows = {tuple(r) for r in bir.collect()}
    # the incremental path writes page:cur for every put (the loader gate
    # P2 means 0-link pages never arrive in the reference; our crawl can
    # fetch dead-end pages, whose page:cur the batch renderer skips)
    zero_link = {
        r["uri"] for r in index_pages.where(F.size("outbound_links") == 0).collect()
    }
    got_minus_gate = {
        t for t in got_rows
        if not (t[1] == "page" and t[2] == "cur" and t[0][2:] in zero_link)
    }
    assert got_minus_gate == exp_rows

    got_uc = {(r["uri"], r["links_to"], r["docs"])
              for r in cat.table("uri_counts").read(spark).collect()}
    exp_uc = {(r["uri"], r["links_to"], r["docs"]) for r in buc.collect()}
    assert got_uc == exp_uc


def test_metrics_manifest(spark, crawled):
    cat, _ = crawled
    man = cat.table("frontier").manifest()
    assert man["epoch"] == N_EPOCHS
    for name in frontier_ops.METER_NAMES:
        assert name in man["metrics"]
    assert len(man["partition_metrics"]) > 0
    # lineage records the input snapshot epoch for every state table
    assert man["lineage"]["frontier"] == N_EPOCHS - 1


def _frozen(df):
    # index_pages and bloom carry array columns: freeze them to hash
    return {tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()}


def _assert_same_crawl(spark, cat, cat_full):
    """Every table's epoch history and rows equal the uninterrupted run's:
    nothing was committed twice and no completed epoch was re-executed."""
    for t in frontier_ops.TABLES:
        assert (
            [m["epoch"] for m in cat.table(t).history()]
            == [m["epoch"] for m in cat_full.table(t).history()]
        ), t
        assert _frozen(cat.table(t).read(spark)) == _frozen(cat_full.table(t).read(spark)), t


@pytest.mark.parametrize(
    "failed", ["pages_state", "seen", "bloom", "index_rows", "uri_counts", "frontier"]
)
def test_resume_after_kill(
    spark, world, tmp_path_factory, crawled, monkeypatch, fail_commits, failed
):
    """Epoch 2's ``failed`` commit dies while the other nine overlapped
    commits publish: the error names the table, the epoch is not done,
    and the resumed run ends equal to the uninterrupted run without
    re-executing (refetching) a completed epoch."""
    corpus_pd, images_pd, robots_pd, seeds_pd, corpus, images, robots, seeds = world
    cat_full, _ = crawled
    cat = Catalog(str(tmp_path_factory.mktemp("crawl_kill")))
    cfg = crawl_cfg()
    frontier_ops.run_crawl(spark, cat, corpus, images, robots, seeds, 1, cfg)

    real_commit = fail_commits({failed}, epoch=2)
    with pytest.raises(RuntimeError, match="simulated crash") as err:
        frontier_ops.run_epoch(spark, cat, corpus, images, robots, 2, cfg)
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)
    assert any(failed in n for n in getattr(err.value, "__notes__", []))
    for t in frontier_ops.TABLES:
        assert cat.table(t).epoch_of_head() == (1 if t == failed else 2), t

    frontier_ops.run_crawl(spark, cat, corpus, images, robots, seeds, N_EPOCHS, cfg)
    _assert_same_crawl(spark, cat, cat_full)


def test_resume_after_init_kill(
    spark, world, tmp_path_factory, crawled, monkeypatch, fail_commits
):
    """``seen``'s epoch-0 commit dies while the rest of ``init_crawl``
    publishes: the resumed run commits only the missing table and ends
    equal to the uninterrupted run."""
    corpus_pd, images_pd, robots_pd, seeds_pd, corpus, images, robots, seeds = world
    cat_full, _ = crawled
    cat = Catalog(str(tmp_path_factory.mktemp("crawl_init_kill")))
    cfg = crawl_cfg()

    real_commit = fail_commits({"seen"}, epoch=0)
    with pytest.raises(RuntimeError, match="simulated crash"):
        frontier_ops.init_crawl(spark, cat, seeds, cfg)
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)
    assert [t for t in frontier_ops.TABLES if not cat.table(t).exists()] == [
        "seen", "pages_state", "fetched_images",
    ]

    frontier_ops.run_crawl(spark, cat, corpus, images, robots, seeds, N_EPOCHS, cfg)
    _assert_same_crawl(spark, cat, cat_full)


def test_epochs_and_batches_leave_no_cached_frames(
    spark, world, tmp_path_factory, monkeypatch, fail_commits
):
    """A stream micro-batch, a crawl epoch (also in the cogroup probe
    regime, for either filter kind) and a crawl epoch whose commit fails
    each leave Spark's CacheManager empty and hold no persistent RDD (a
    cut's or a pin's) that was not held before."""
    import dataclasses
    import os

    from webindex_spark.operators import seen as seen_ops
    from webindex_spark.sources.pages_json import read_pages_json
    from webindex_spark.streaming import page_stream

    corpus_pd, images_pd, robots_pd, seeds_pd, corpus, images, robots, seeds = world
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty
    spark.catalog.clearCache()

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    held = persistent()
    cat = Catalog(str(tmp_path_factory.mktemp("stream_cache")))
    page_stream._empty_state(spark, cat)
    pages = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    page_stream.apply_page_batch(spark, cat, read_pages_json(spark, pages), batch_id=0)
    assert cache_empty()
    assert persistent() <= held

    cat = Catalog(str(tmp_path_factory.mktemp("crawl_cache")))
    cfg = crawl_cfg()
    frontier_ops.run_crawl(spark, cat, corpus, images, robots, seeds, 1, cfg)
    assert cache_empty()
    assert persistent() <= held

    with monkeypatch.context() as mp:
        mp.setattr(seen_ops, "BROADCAST_BLOOM_MAX_BYTES", 0)
        for kind in ("bloom", "cuckoo"):
            frontier_ops.run_crawl(
                spark, Catalog(str(tmp_path_factory.mktemp(f"cogroup_{kind}"))),
                corpus, images, robots, seeds, 1,
                dataclasses.replace(cfg, filter_kind=kind),
            )
            assert cache_empty()
            assert persistent() <= held, kind

    fail_commits({"frontier"}, epoch=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        frontier_ops.run_epoch(spark, cat, corpus, images, robots, 2, cfg)
    assert cache_empty()
    assert persistent() <= held


MERGE_TABLES = (
    "bloom", "index_pages", "index_rows", "domain_counts", "uri_counts", "frontier",
)


@pytest.mark.parametrize("failed", ["bloom", "index_rows", "frontier"])
def test_resume_after_compaction_crash(
    spark, world, tmp_path_factory, crawled, monkeypatch, failed
):
    """The epoch's compactions run overlapped after its commits: one
    failing compaction is raised only once the others have drained, names
    its table, and leaves the epoch done — the resumed crawl does not
    re-run it.  The failed table's epoch-3 commit finds its chain still
    long and compacts it, and the final state equals the uninterrupted
    run."""
    corpus_pd, images_pd, robots_pd, seeds_pd, corpus, images, robots, seeds = world
    cat_full, _ = crawled
    cat = Catalog(str(tmp_path_factory.mktemp("crawl_compact_kill")))
    cfg = crawl_cfg()
    frontier_ops.run_crawl(spark, cat, corpus, images, robots, seeds, 1, cfg)

    real_compact = SnapshotTable.compact

    def dying_compact(self, spark_):
        if self.name == failed:
            raise RuntimeError("simulated kill in compaction")
        return real_compact(self, spark_)

    monkeypatch.setattr(SnapshotTable, "compact", dying_compact)
    with pytest.raises(RuntimeError, match="simulated kill") as err:
        frontier_ops.run_epoch(spark, cat, corpus, images, robots, 2, cfg)
    monkeypatch.setattr(SnapshotTable, "compact", real_compact)
    assert any(failed in n for n in getattr(err.value, "__notes__", []))
    # every other compaction published before the error surfaced
    for t in MERGE_TABLES:
        assert cat.table(t).manifest().get("compaction", False) is (t != failed), t
    assert cat.table("frontier").epoch_of_head() == 2

    snap_before = cat.table("frontier").head()
    frontier_ops.run_crawl(spark, cat, corpus, images, robots, seeds, N_EPOCHS, cfg)
    history = cat.table("frontier").history()
    # one data commit per epoch, plus one compaction: epoch 2's if it
    # survived, else the one epoch 3's commit made
    assert [m["epoch"] for m in history if not m.get("compaction")] == [0, 1, 2, 3]
    assert len(history) == 5
    assert cat.table("frontier").head() == snap_before + 1 + (failed == "frontier")
    for t in MERGE_TABLES:
        man = cat.table(t).manifest()
        assert man["epoch"] == 3, t
        assert man.get("compaction", False) is (t == failed), t

    for t in ("seen", "fetch_log", *MERGE_TABLES):
        assert _frozen(cat.table(t).read(spark)) == _frozen(cat_full.table(t).read(spark)), t


def test_crawl_with_compaction_identical(spark, world, tmp_path_factory, crawled):
    """The epoch commit folds each mutating table's merge chain back to
    one segment once it holds two merge segments, i.e. at every even
    epoch: each compaction reads equal to the merge snapshot it folds,
    the crawl outcome (frontier, seen, uri_counts, fetch_log) equals the
    fixture run's at the same epoch, every mutating HEAD after an even
    epoch is a compaction commit, and the compactions keep the epochs'
    meters."""
    corpus_pd, images_pd, robots_pd, seeds_pd, corpus, images, robots, seeds = world
    cat_plain, _ = crawled
    cat = Catalog(str(tmp_path_factory.mktemp("crawl_compact")))
    cfg = crawl_cfg()
    n_epochs = N_EPOCHS + 1
    meters = frontier_ops.run_crawl(
        spark, cat, corpus, images, robots, seeds, n_epochs, cfg
    )
    for t in frontier_ops.TABLES:
        history = cat.table(t).history()
        compactions = [m for m in history if m.get("compaction")]
        assert [m["epoch"] for m in compactions] == (
            [2, 4] if t in MERGE_TABLES else []), t
        for m in compactions:
            assert _frozen(cat.table(t).read(spark, m["snapshot"])) == _frozen(
                cat.table(t).read(spark, m["parent"])), (t, m["epoch"])
    for t in ("frontier", "seen", "uri_counts", "fetch_log", "domain_counts"):
        a = {tuple(r) for r in cat.table(t).read_before_epoch(spark, n_epochs).collect()}
        b = {tuple(r) for r in cat_plain.table(t).read(spark).collect()}
        assert a == b, t
    for t in ("frontier", "uri_counts", "index_rows"):
        man = cat.table(t).manifest()
        assert man.get("compaction") is True, t
        assert len(man["segments"]) == 1, t
        assert man["partition_metrics"], t
    # every HEAD is a compaction: a run over the finished catalog still
    # reports each epoch's own meters
    assert frontier_ops.run_crawl(
        spark, cat, corpus, images, robots, seeds, n_epochs, cfg
    ) == meters


def test_bloom_odelta_merge_commits(spark, crawled):
    """The filter table commits O(delta): every post-init bloom snapshot
    other than a compaction is mode="merge" keyed on pid and adds ONLY
    the one segment of shards that epoch's uris touched to its parent's
    chain, and the reconciled read-back equals a from-scratch full insert
    of the final seen set (bitwise-OR order independence)."""
    cat, model = crawled
    t = cat.table("bloom")
    history = t.history()
    by_id = {m["snapshot"]: m for m in history}
    deltas = [m for m in history[1:] if not m.get("compaction")]
    assert [m["epoch"] for m in deltas] == list(range(1, N_EPOCHS + 1))  # one per epoch
    for man in deltas:
        assert man["mode"] == "merge" and man["merge_keys"] == ["pid"]
        parent_chain = by_id[man["parent"]].get("merge_segments") or []
        assert man["merge_segments"] == [*parent_chain, man["segments"][-1]], man["epoch"]
    got = {r["pid"]: tuple(r["words"]) for r in t.read(spark).collect()}
    cfg = crawl_cfg()
    seen_df = cat.table("seen").read(spark).select("uri")
    full = cfg.bloom.insert(seen_df, cfg.bloom.empty(spark))
    exp = {r["pid"]: tuple(r["words"]) for r in full.collect()}
    assert got == exp
