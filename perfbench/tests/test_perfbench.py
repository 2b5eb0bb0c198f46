"""Tests of the benchmark itself: its generators, its statistics, its
tracer, its refusal to run outside a checkout, and exact equality of the
crawl workload's engine calls with the pure-python crawl model on a small
world (too slow per benchmark run at full size).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.trace import Tracer, union_s
from perfbench.workloads import tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from webindex_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2, extra_conf={"spark.driver.memory": "2g"})
    yield s
    s.stop()


def test_generators_are_pure_functions_of_the_seed():
    a, b, c = (gen.crawl_world(s, n_hosts=6, pages_per_host=5, n_images=8)
               for s in (7, 7, 8))
    for k in a:
        assert a[k].equals(b[k]), k
    assert not a["corpus"]["out_urls"].equals(c["corpus"]["out_urls"])
    assert gen.page_batches(3, 2, 50, 20) == gen.page_batches(3, 2, 50, 20)
    assert gen.page_batches(3, 2, 50, 20) != gen.page_batches(4, 2, 50, 20)


def test_page_batches_mix_recrawls_and_new_pages():
    base, b1 = gen.page_batches(5, 1, base_pages=100, batch_pages=40)
    base_uris = {r["uri"] for r in base}
    b1_uris = [r["uri"] for r in b1]
    assert sum(u in base_uris for u in b1_uris) == 40 * gen.RECRAWL_FRAC
    assert len(set(b1_uris)) == 40
    assert all(r["outbound_links"] for r in base + b1)
    assert len(gen.final_pages([base, b1])) == 120


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail([float(x) for x in range(1, 41)]) == (30.0, "p75")
    assert tail([float(x) for x in range(1, 201)]) == (190.0, "p95")
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max")


def test_union_counts_overlap_once():
    assert union_s([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4


def test_tracer_attributes_jobs_to_innermost_span(spark):
    tr = Tracer(spark, enabled=True)
    with tr.span("outer", unit=True) as outer:
        spark.range(1000).selectExpr("id % 7 k").groupBy("k").count().collect()
        with tr.span("inner"):  # an RDD count is exactly one job
            spark.sparkContext.parallelize(range(10)).count()
            spark.sparkContext.parallelize(range(10)).count()
    tr.collect_stats()
    inner = tr.children(outer)[0]
    assert inner.stats["jobs"] == 2
    assert outer.stats["jobs"] >= 1
    assert tr.inclusive(outer)["jobs"] == outer.stats["jobs"] + 2
    assert outer.stats["shuffle_write_bytes"] > 0
    assert 0 < tr.self_s(outer) < outer.dur
    assert "cached_bytes_left" in outer.attrs
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


def test_crawl_matches_model_exactly(spark, tmp_path):
    """The crawl workload's calls (init_crawl, then two run_epoch calls
    with the default compact_every=2, so the second compacts) on a small
    generated world reproduce the pure-python model's fetch log, seen set,
    frontier and counts."""
    sys.path.insert(0, ROOT)
    from tests.model_crawler import ModelCrawler
    from webindex_spark.operators import frontier
    from webindex_spark.sources.snapshots import Catalog

    w = gen.crawl_world(9, n_hosts=8, pages_per_host=10, fanout=3, n_images=12,
                        seeds_per_host=2)
    cfg = frontier.CrawlConfig(budget=2, bloom_expected_n=5000, bloom_partitions=8)
    cat = Catalog(str(tmp_path / "cat"))
    corpus, images, robots = (spark.createDataFrame(w[k])
                              for k in ("corpus", "images", "robots"))
    frontier.init_crawl(spark, cat, spark.createDataFrame(w["seeds"]), cfg)
    for e in (1, 2):
        frontier.run_epoch(spark, cat, corpus, images, robots, e, cfg)

    m = ModelCrawler(w["corpus"], w["images"], w["robots"], cfg.budget,
                     cfg.priority_decay)
    for r in w["seeds"].itertuples():
        m.add_seed(r.url, float(r.priority), int(r.discovered_epoch))
    m.run(2)

    def read(t):
        return cat.table(t).read(spark).collect()

    assert sorted(tuple(r) for r in read("fetch_log")) == sorted(m.fetch_log)
    assert {r["uri"] for r in read("seen")} == m.seen
    assert {r["uri"]: (r["priority"], r["discovered_epoch"]) for r in read("frontier")} \
        == {u: (r["priority"], r["discovered_epoch"]) for u, r in m.frontier.items()}
    assert {r["uri"]: (r["links_to"], r["docs"]) for r in read("uri_counts")} \
        == {u: tuple(c) for u, c in m.uri_counts.items() if c != [0, 0]}
    assert {r["rev_domain"]: r["pagecount"] for r in read("domain_counts")} \
        == m.domain_counts()
