"""Iceberg dry-run goldens: the statements the snapshot-seam commit sites
map to on a real cluster cannot drift from the code, the golden file, or
docs/PLANS.md — and the append/merge split must match what run_epoch
actually commits."""

import os
import re

from webindex_spark.operators import frontier as fr
from webindex_spark.sources import iceberg_sql

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "iceberg_epoch_sql.txt")
PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md"
)


def test_every_commit_site_has_a_statement():
    assert set(iceberg_sql.epoch_statements()) == set(fr.TABLES)


def test_rendered_statements_match_golden():
    assert iceberg_sql.render() == open(GOLDEN, encoding="utf-8").read()


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s.replace("`", "")).strip()


def test_statements_appear_in_plans_md():
    doc = _norm(open(PLANS, encoding="utf-8").read())
    for table, stmt in iceberg_sql.epoch_statements().items():
        assert _norm(stmt) in doc, f"docs/PLANS.md is missing {table}: {stmt}"


def test_modes_match_what_run_epoch_commits(spark, tmp_path):
    """Ground truth: run one epoch and read each table's manifest mode —
    the dry-run's append/merge split must agree with the real commits."""
    from webindex_spark.operators import synth
    from webindex_spark.sources.snapshots import Catalog

    corpus = spark.createDataFrame(synth.gen_web_pandas(4, 6, 2, n_img_hosts=1))
    images = spark.createDataFrame(synth.gen_images_pandas(synth.all_image_ids(4, 6, 1)))
    robots = spark.createDataFrame(synth.gen_robots_pandas(4, 1))
    seeds = spark.createDataFrame(synth.gen_seeds_pandas(4, seeds_per_host=1))
    cat = Catalog(str(tmp_path / "cat"))
    cfg = fr.CrawlConfig(budget=2, bloom_expected_n=1_000, bloom_partitions=4)
    fr.run_crawl(spark, cat, corpus, images, robots, seeds, 2, cfg)
    for t in fr.TABLES:
        # the RAW commit: epoch 2's compaction sits on top of the merge ones
        man = [m for m in cat.table(t).history() if not m.get("compaction")][-1]
        assert man["epoch"] == 2, t
        mode = man.get("mode")
        want = iceberg_sql.LOCAL_COMMIT_MODES[t]
        assert mode == want, (t, mode, want)
        if want == "merge":
            # a merge commit must carry its key columns + delta segments
            assert man.get("merge_keys"), t
            assert man.get("merge_segments"), t
