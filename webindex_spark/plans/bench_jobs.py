"""Benchmark jobs for the north-rule throughput metrics.

Two jobs, sized so they are compute-bound (not fixed-overhead-bound) at
local[8..32]:

  * **frontier_throughput_job** — the engine's scheduling path on a
    synthetic N-URL frontier generated *inside Spark* (``spark.range`` →
    string exprs, deterministic, no driver materialization): bloom-probe +
    exact-tier unseen filter, robots broadcast gate, salted politeness
    window.  Metric: frontier URLs scheduled/sec.
  * **image_verify_throughput_job** — decode + phash + caption check over
    N generated image rows (PNG/raw/lossy mix) via the mapInPandas
    verifier.  Metric: fetched-image rows/sec.

Both are pure functions of (n, seed-free range ids) so every run at every
parallelism level processes identical data.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from webindex_spark.operators import images as img_ops
from webindex_spark.operators import seen as seen_ops


def synth_frontier(spark: SparkSession, n: int, n_hosts: int) -> DataFrame:
    """N candidate URLs over n_hosts hosts with a deliberate hot host:
    host 0 receives an extra 10% of all URLs (skew exercises the salted
    politeness path and AQE skew handling)."""
    r = spark.range(n)
    hot = F.col("id") % 10 == 0
    hostnum = F.when(hot, F.lit(0)).otherwise(F.col("id") % n_hosts)
    return r.select(
        F.concat(F.lit("com.h"), hostnum.cast("string"), F.lit(">>o>/p/"),
                 F.col("id").cast("string")).alias("uri"),
        F.concat(F.lit("h"), hostnum.cast("string"), F.lit(".com")).alias("host"),
        F.concat(F.lit("/p/"), F.col("id").cast("string")).alias("path"),
        (F.pmod(F.xxhash64(F.lit("prio"), F.col("id")), F.lit(10000)) / 100.0)
        .alias("priority"),
    )


def synth_robots(spark: SparkSession, n_hosts: int) -> DataFrame:
    r = spark.range(n_hosts)
    return r.select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".com")).alias("host"),
        F.when(F.col("id") % 5 == 2, F.array(F.lit("/p/4"))).otherwise(
            F.array().cast("array<string>")
        ).alias("disallow"),
        (F.lit(1.0) + (F.col("id") % 3).cast("double")).alias("crawl_delay"),
    )


def frontier_throughput_job(
    spark: SparkSession, n_urls: int = 2_000_000, n_hosts: int = 50_000,
    budget: int = 20, seen_frac: int = 4, force_cogroup: bool = False,
) -> tuple[int, float]:
    """Returns (urls_scheduled, wall_seconds) for the FUSED scheduling
    pipeline (operators/sched_pipeline.schedule_frontier): ONE candidate
    exchange shared by the exact-tier anti-join and the phase-1 politeness
    window, plus the small survivor exchange for the exact rank.

    Every ``seen_frac``-th URL is pre-seen.  Setup excluded from timing:
    the Bloom filter build (an insert-path cost, amortized across epochs)
    and the seen table's (host, salt) layout — that is its AT-REST
    bucketing (Iceberg ``bucket(...)`` partitioning; appends land in the
    correct buckets at write time), not a per-epoch read cost."""
    from webindex_spark.operators import sched_pipeline

    # 1024 shards (the docs/SCALE.md 10^10 layout): with few shards the
    # cogroup exchange hashes pids into shuffle partitions so unevenly
    # that multi-pid tasks straggle the 4N level (64 pids -> 48 bins:
    # max bin ~4 pids = a 3x task); at 1024 pids/48 bins the max bin is
    # ~1.6x mean and wave packing absorbs it
    n_parts, bits, k = seen_ops.bloom_params(n_urls, 0.01, 1024)
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    frontier = synth_frontier(spark, n_urls, n_hosts)
    robots = synth_robots(spark, n_hosts)
    pre_seen = frontier.where(
        F.pmod(F.xxhash64(F.lit("seen"), F.col("uri")), F.lit(seen_frac)) == 0
    ).select("uri", "host")
    # 4 salts: enough to spread the hot host 4x in the window sorts while
    # keeping the phase-2 exchange at <= 4*budget rows per host (the salt
    # count must match the seen table's at-rest layout — same join key)
    n_salts = 4
    # filter shards keyed by (host, salt, sub) — the fused cogroup plan's
    # requirement (shard pid == window key == seen bucket key); harmless
    # for the broadcast regime, whose probe never shuffles anyway.
    # n_sub=1: sub-splitting the hot host (n_sub=4) was measured NET
    # NEGATIVE here — it caps the largest shard at 10/(4*4)=0.6% of
    # candidates but keeps budget*n_sub pre-cut survivors per (host,
    # salt), and the survivors' anti-join exchange grew 14M -> 26M rows,
    # slowing BOTH levels more than the straggler cost (N 126->148 s,
    # 4N 46->50 s); the lever stays for hot-host-heavier distributions
    n_sub = 1
    pid = seen_ops.host_salt_pid("host", "uri", n_salts, n_parts, n_sub)
    bloom = seen_ops.bloom_insert(
        pre_seen, seen_ops.empty_bloom(spark, n_parts, bits),
        "uri", k, bits, n_parts, pid_expr=pid,
    )
    bloom = bloom.localCheckpoint(eager=True)         # build cost excluded
    seen_at_rest = sched_pipeline.partition_for_schedule(
        pre_seen, n_salts=n_salts, num_partitions=shuffle_n
    ).localCheckpoint(eager=True)                     # at-rest bucketed layout

    # force_cogroup models the 10^10 regime (a ~14 GiB filter exceeds the
    # broadcast cap): the pipeline takes the cogroup bloom-probe branch —
    # candidates shuffle by filter pid, Arrow/numpy bit tests, and only
    # the maybe-seen slice pays the exact anti-join
    old_cap = seen_ops.BROADCAST_BLOOM_MAX_BYTES
    if force_cogroup:
        seen_ops.BROADCAST_BLOOM_MAX_BYTES = 0
    try:
        t0 = time.time()
        sched = sched_pipeline.schedule_frontier(
            frontier, seen_at_rest, bloom, robots, budget, n_salts=n_salts,
            k=k, bits=bits, n_partitions=n_parts,
            num_partitions=shuffle_n, seen_prepartitioned=True, keep_cols=[],
            n_sub=n_sub,
        )
        n_scheduled = sched.count()
        dt = time.time() - t0
    finally:
        seen_ops.BROADCAST_BLOOM_MAX_BYTES = old_cap
    # free this pass's checkpointed state (~0.5 GB of executor storage per
    # pass at 20M URLs) so repeated passes / the image job that follows
    # don't degrade under accumulated storage-memory pressure (measured:
    # image passes went 15s -> 32s after three leaked frontier passes)
    unpersist_all(spark)
    return n_scheduled, dt


def unpersist_all(spark: SparkSession) -> None:
    """Drop every persisted/localCheckpointed RDD block in the session,
    then force a driver GC so the ContextCleaner releases broadcast and
    shuffle state promptly — without it, repeated large passes accumulate
    executor-heap garbage (broadcasts are only cleaned when the driver
    GCs their refs) and later passes degrade measurably."""
    import gc

    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _gen_images_batchwise(ids: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from webindex_spark.operators import synth

    for pdf in ids:
        out = synth.gen_images_pandas(
            [f"com.img>>o>/i/{int(i)}.png" for i in pdf["id"]], w=48, h=32
        )
        yield out


IMG_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def image_verify_throughput_job(
    spark: SparkSession, n_images: int = 30_000, tmp_dir: str = "/tmp/webindex_bench_images"
) -> tuple[int, float]:
    """Returns (rows_verified, wall_seconds). Generation happens once into
    parquet (excluded from timing); the timed section is decode + phash +
    caption verification — the real multimodal hot path."""
    import os

    from webindex_spark.operators import synth

    data_dir = os.path.join(tmp_dir, f"data_{n_images}")
    marker = os.path.join(tmp_dir, f"_done_{n_images}")
    if not os.path.exists(marker):
        spark.range(n_images).repartition(64).mapInPandas(
            _gen_images_batchwise, schema=IMG_SCHEMA
        ).write.mode("overwrite").parquet(data_dir)
        open(marker, "w").close()
    images = spark.read.parquet(data_dir)

    t0 = time.time()
    verified = img_ops.verify_images(images, synth.image_pixels, synth.image_caption)
    n_ok = verified.where(F.col("ok")).count()
    dt = time.time() - t0
    assert n_ok == n_images, f"verification failed: {n_ok}/{n_images}"
    return n_ok, dt


# ---------------------------------------------------- dedup-lane throughput


def synth_corpus(
    spark: SparkSession, n_docs: int, tokens_per_doc: int = 60, vocab: int = 40
) -> DataFrame:
    """Deterministic word-soup corpus generated inside Spark (the
    frontier-job idiom: pure exprs over ``spark.range``, no driver
    materialization): ~``tokens_per_doc`` tokens from a small vocab,
    with every 3rd document carrying a shared 10-token passage keyed by
    ``doc_id % 17`` — cross-document exact duplication with the same
    group structure the win_dedup/win_cut gates certify."""
    vocab_arr = F.array(*[F.lit(f"w{i}") for i in range(vocab)])
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(tokens_per_doc)),
        lambda i: F.element_at(
            vocab_arr,
            (F.pmod(F.xxhash64(F.col("id"), i), F.lit(vocab)) + 1).cast("int"),
        ),
    )
    g = F.pmod(F.col("id"), F.lit(17)).cast("string")
    passage = F.concat_ws(
        " ", *[F.concat(F.lit("pg"), g, F.lit(f"w{j}")) for j in range(10)]
    )
    body = F.array_join(toks, " ")
    text = F.when(
        F.pmod(F.col("id"), F.lit(3)) == 0,
        F.concat(body, F.lit(" "), passage),
    ).otherwise(body)
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )


def dedup_throughput_job(
    spark: SparkSession, n_docs: int, tmp_dir: str = "/tmp/webindex_bench_docs"
) -> tuple[int, float]:
    """Returns (docs_deduped, wall_seconds) for the flagship substring
    dedup-with-cutting pipeline (operators/linedup.window_dedup_cut
    under the production xxhash64): tokenize → composed 8-gram hashes →
    duplicate dictionary with keeper coordinates → broadcast mark →
    in-row rebuild.  Corpus generation happens once into parquet
    (excluded from timing) so every parallelism level reads identical
    bytes."""
    import os

    from webindex_spark.operators.linedup import window_dedup_cut

    data_dir = os.path.join(tmp_dir, f"data_{n_docs}")
    marker = os.path.join(tmp_dir, f"_done_{n_docs}")
    if not os.path.exists(marker):
        synth_corpus(spark, n_docs).repartition(64).write.mode(
            "overwrite"
        ).parquet(data_dir)
        open(marker, "w").close()
    docs = spark.read.parquet(data_dir)

    t0 = time.time()
    out = window_dedup_cut(docs, w=8, min_count=2)
    out.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    return n_docs, dt


# ---------------------------------------------------- graph-lane throughput


def synth_edges(
    spark: SparkSession, n_edges: int, n_nodes: int
) -> DataFrame:
    """Deterministic random-ish directed edge list generated inside
    Spark (hash-derived endpoints over ``spark.range`` — identical at
    every parallelism level)."""
    return spark.range(n_edges).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_nodes)).alias("dst"),
    )


def _bench_edges(
    spark: SparkSession, n_edges: int, tmp_dir: str
) -> DataFrame:
    """One-time (untimed) parquet materialization of the synthetic edge
    list; nodes = n_edges // 10 keeps average degree ~10, a web-like
    sparsity that does not saturate with size."""
    import os

    data_dir = os.path.join(tmp_dir, f"data_{n_edges}")
    marker = os.path.join(tmp_dir, f"_done_{n_edges}")
    if not os.path.exists(marker):
        synth_edges(spark, n_edges, max(n_edges // 10, 10)).repartition(
            64
        ).write.mode("overwrite").parquet(data_dir)
        open(marker, "w").close()
    return spark.read.parquet(data_dir)


def pagerank_throughput_job(
    spark: SparkSession,
    n_edges: int,
    iterations: int = 5,
    tmp_dir: str = "/tmp/webindex_bench_edges",
) -> tuple[int, float]:
    """Returns (edge_iterations, wall_seconds) for the fixed-point
    PageRank loop — the representative bounded-round iterative graph
    job (two linear shuffles + one scalar probe per iteration, lineage
    truncated every round)."""
    from webindex_spark.operators.pagerank import pagerank

    edges = _bench_edges(spark, n_edges, tmp_dir)
    t0 = time.time()
    out = pagerank(edges, iterations=iterations)
    out.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    unpersist_all(spark)
    return n_edges * iterations, dt


def components_throughput_job(
    spark: SparkSession,
    n_edges: int,
    tmp_dir: str = "/tmp/webindex_bench_edges",
) -> tuple[int, float]:
    """Returns (edges_processed, wall_seconds) for connected components
    (large-star/small-star to the fixpoint) over a skewed graph: the
    synthetic edge list plus a giant-component spine (every ~64th node
    chained) so component sizes are power-law-ish — one huge component
    plus a long tail — the regime the round-count worry at 10^10 nodes
    is about.  edges_processed = n_edges * rounds_to_fixpoint."""
    from webindex_spark.operators.components import connected_components

    edges = _bench_edges(spark, n_edges, tmp_dir)
    n_nodes = max(n_edges // 10, 10)
    spine = spark.range(n_nodes // 64).select(
        (F.col("id") * 64).alias("src"),
        ((F.col("id") + 1) * 64 % n_nodes).alias("dst"),
    )
    t0 = time.time()
    out = connected_components(edges.unionByName(spine))
    # rounds are data-determined; normalize throughput by counting them
    rounds = getattr(out, "_wix_cc_rounds", None)
    out.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    unpersist_all(spark)
    total = n_edges + n_nodes // 64
    return total * (rounds or 1), dt
