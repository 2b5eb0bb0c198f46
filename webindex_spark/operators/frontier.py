"""URL frontier + fetch scheduler — the north-rule core loop.

One crawl **epoch** is one deterministic batch job over snapshot state
(the Spark restatement of the reference's Fluo observer cascade,
SURVEY.md §3.2): frontier -> robots gate -> politeness schedule -> fetch
(join content + image tables) -> link extraction -> seen-set insert ->
frontier update -> index-state merge, every table committed as a snapshot
with epoch + lineage + per-partition metrics in the manifest.

Determinism: crawl order is a pure function of data — (priority DESC,
uri ASC) within hosts, budget per host per epoch, ticks spaced by
crawl_delay — so local[1], local[32], and a 1000-executor cluster produce
the SAME fetch log and the SAME seen set (asserted in tests against a pure
python model).  Nothing reads wall-clock or partition/task identity.

Resume: an epoch publishes its 10 tables in one overlapped commit and is
done once every table carries it (``Catalog.done``).  ``run_crawl`` skips
done epochs, and an epoch job reads its *inputs* pinned below epoch e
(``SnapshotTable.read_before_epoch``), so a killed run re-runs only the
interrupted epoch (same inputs => same outputs, published tables are
skipped) and never refetches completed epochs: the Iceberg-snapshot
checkpoint contract of BASELINE.json, on the snapshots seam.  The same
commit compacts each merge chain at its second segment: every even epoch.

Physical note: this loop schedules the ALREADY-deduped frontier (robots +
politeness only — no seen join needed there) and unseen-filters the newly
extracted children separately; the streaming-topology composition of the
same operators (candidates arriving and being unseen-filtered + scheduled
in ONE job) is `operators/sched_pipeline.schedule_frontier`, the fused
single-exchange plan the scaling benchmark measures.  Both paths now rank
through the SAME core (politeness.ranked_slots), so the epoch's schedule
is plan-identical to the benchmarked windows: robots broadcast gate (no
exchange) -> phase-1 (host, salt) exchange -> survivor-sized host
exchange — exactly two, locked by
tests/test_sched_pipeline.py::test_epoch_schedule_path_two_exchanges;
with an Iceberg frontier bucketed by (host, salt) at rest the phase-1
exchange disappears (ranked_slots docstring; docs/PLANS.md).

Metric names follow the reference's ten Grafana meters
(PageObserver.java:66-68, UriCombineQ.java:54-55, DomainCombineQ.java:42-43,
IndexUpdateTranslator.java:41-43), recorded per data-partition (pid =
xxhash64(uri) % n, a physical-layout-independent partition id).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from webindex_spark.functions.spark_udfs import parse_url
from webindex_spark.operators import cuckoo as cuckoo_ops
from webindex_spark.operators import delta as delta_ops
from webindex_spark.operators import politeness, robots as robots_ops, seen as seen_ops
from webindex_spark.operators.index_batch import PAGE_SCHEMA, normalize_links
from webindex_spark.operators.materialize import Materializer
from webindex_spark.sources.snapshots import Catalog

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("uri", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_epoch", T.LongType(), False),
        T.StructField("is_image", T.BooleanType(), False),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("uri", T.StringType(), False),
        # host rides along so the seen table can be laid out / bucketed by
        # (host, salt) at rest — the co-partitioning the fused scheduling
        # pipeline's anti-join reuses (operators/sched_pipeline.py)
        T.StructField("host", T.StringType(), False),
    ]
)

FETCH_LOG_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("slot", T.LongType(), False),
        T.StructField("tick", T.DoubleType(), False),
        T.StructField("is_image", T.BooleanType(), False),
    ]
)

METER_NAMES = [
    "webindex_pages_ingested",
    "webindex_links_ingested",
    "webindex_pages_changed",
    "webindex_links_new",
    "webindex_links_changed",
    "webindex_domains_new",
    "webindex_domains_changed",
    "webindex_pages_exported",
    "webindex_links_exported",
    "webindex_domains_exported",
]

TABLES = [
    "frontier", "seen", "bloom", "fetch_log", "pages_state",
    "fetched_images", "uri_counts", "domain_counts",
    "index_pages", "index_rows",
]
# pages_state and fetched_images start at their first epoch-1 append
INIT_TABLES = [t for t in TABLES if t not in ("pages_state", "fetched_images")]


@dataclass
class CrawlConfig:
    budget: int = 5                # fetches per host per epoch
    priority_decay: float = 0.5    # child priority = parent * decay (max over parents)
    n_salts: int = 8               # politeness skew salting
    filter_kind: str = "bloom"     # cheap-negative seen tier: bloom | cuckoo
    bloom_expected_n: int = 100_000
    bloom_fpp: float = 0.01
    bloom_partitions: int = 16
    metric_partitions: int = 16    # per-partition metric granularity
    # the seen tier's filter (the table is "bloom" for either kind): its
    # params object supplies the kind's parts (empty, insert)
    bloom: seen_ops.BloomParams | cuckoo_ops.CuckooParams = field(init=False)

    def __post_init__(self):
        self.bloom = (
            cuckoo_ops.cuckoo_params(self.bloom_expected_n, self.bloom_partitions)
            if self.filter_kind == "cuckoo"
            else seen_ops.bloom_params(
                self.bloom_expected_n, self.bloom_fpp, self.bloom_partitions
            )
        )


def canonicalize(raw_urls: DataFrame) -> DataFrame:
    """raw ``url`` strings -> valid canonical rows (uri, url, host, path,
    is_image, then the other columns), invalid dropped (URL.isValid
    semantics)."""
    p = raw_urls.withColumn("__p", parse_url(F.col("url")))
    return (
        p.where(F.col("__p.valid"))
        .select(
            F.col("__p.uri").alias("uri"),
            F.col("__p.url_norm").alias("url"),
            F.col("__p.host").alias("host"),
            F.col("__p.path").alias("path"),
            F.col("__p.is_image").alias("is_image"),
            *[c for c in raw_urls.columns if c != "url"],
        )
    )


def epoch_meters(
    page_mutations: DataFrame, changes: DataFrame, domain_changes: DataFrame
) -> dict:
    """The reference's ten Grafana meters for one batch, computed in ONE
    Spark job (three one-row aggregates unioned and collected together).
    Every input is delta-sized (page_mutations = this batch's page diffs;
    changes = touched uris; domain_changes = touched domains) — the full
    uri_counts state is never scanned for telemetry.

    Exact reference semantics, per meter:
      * pages_ingested  — one per PUT delta, deletes excluded (a reload
        no-op still counts: PageObserver.java:101 marks before comparing
        links);
      * pages_changed / pages_exported — one per processed delta, puts
        AND deletes (PageObserver.java:119-120 exports + marks
        unconditionally);
      * links_ingested  — number of ADDED links, Sets.difference(next,
        cur) on (uri, url) Link identity (PageObserver.java:106-110) —
        NOT the page's total outbound count;
      * links_new       — uris whose UriInfo went ZERO -> nonzero
        (UriCombineQ.java:72-74);
      * links_changed / links_exported — one per touched uri Change
        (UriCombineQ.java:68-69);
      * domains_new     — domains going 0 -> nonzero
        (DomainCombineQ.java:52-53);
      * domains_changed / domains_exported — one per touched domain
        Change (DomainCombineQ.java:55-56, IndexUpdateTranslator.java:49).
    """
    zero = F.lit(0).cast("long")
    one_if = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    stats = (
        page_mutations.agg(
            F.lit("pages").alias("k"),
            F.count("*").cast("long").alias("a"),
            one_if(F.col("op") != "delete").alias("b"),
            F.coalesce(F.sum(F.size("added_links")), F.lit(0))
            .cast("long").alias("c"),
        )
        .unionByName(
            changes.agg(
                F.lit("uris").alias("k"),
                F.count("*").cast("long").alias("a"),
                one_if(
                    (F.col("old_links") == 0) & (F.col("old_docs") == 0)
                    & ((F.col("new_links") != 0) | (F.col("new_docs") != 0))
                ).alias("b"),
                zero.alias("c"),
            )
        )
        .unionByName(
            domain_changes.agg(
                F.lit("domains").alias("k"),
                F.count("*").cast("long").alias("a"),
                one_if(
                    (F.col("old_pagecount") == 0) & (F.col("new_pagecount") != 0)
                ).alias("b"),
                zero.alias("c"),
            )
        )
    )
    rows = {r["k"]: (int(r["a"]), int(r["b"]), int(r["c"])) for r in stats.collect()}
    n_deltas, n_puts, links_added = rows["pages"]
    uris_touched, links_new, _ = rows["uris"]
    domains_touched, domains_new, _ = rows["domains"]
    return {
        "webindex_pages_ingested": n_puts,
        "webindex_links_ingested": links_added,
        "webindex_pages_changed": n_deltas,
        "webindex_links_new": links_new,
        "webindex_links_changed": uris_touched,
        "webindex_domains_new": domains_new,
        "webindex_domains_changed": domains_touched,
        "webindex_pages_exported": n_deltas,
        "webindex_links_exported": uris_touched,
        "webindex_domains_exported": domains_touched,
    }


def _partition_metrics(df: DataFrame, n_parts: int, uri_col: str = "uri") -> list:
    """(pid, count) pairs under the layout-independent partition id."""
    rows = (
        df.groupBy(
            F.pmod(F.xxhash64(F.lit("pid"), F.col(uri_col)), F.lit(n_parts))
            .cast("int")
            .alias("pid")
        )
        .count()
        .collect()
    )
    return sorted([[r["pid"], r["count"]] for r in rows])


def init_crawl(spark: SparkSession, cat: Catalog, seeds: DataFrame, cfg: CrawlConfig) -> None:
    """Epoch 0: canonicalize seeds into the frontier; empty state tables.

    All eight tables publish in one overlapped epoch-0 commit; a resumed
    partial init commits only the tables a kill left missing."""
    if cat.done(INIT_TABLES, 0):
        return  # already initialized: never rebuild the empty filter
    cand = canonicalize(seeds)
    frontier = (
        cand.groupBy("uri")
        .agg(
            F.first("url").alias("url"),
            F.first("host").alias("host"),
            F.first("path").alias("path"),
            F.max("priority").alias("priority"),
            F.min("discovered_epoch").cast("long").alias("discovered_epoch"),
            F.first("is_image").alias("is_image"),
        )
        .select(*[f.name for f in FRONTIER_SCHEMA.fields])
    )
    empty = lambda schema: spark.createDataFrame([], schema)  # noqa: E731
    tables = {
        "seen": empty(SEEN_SCHEMA),
        "bloom": cfg.bloom.empty(spark),
        "fetch_log": empty(FETCH_LOG_SCHEMA),
        **{name: empty(schema) for name, schema in delta_ops.STATE_SCHEMAS.items()},
        "frontier": frontier,
    }
    cat.commit_epoch(
        spark, 0, {name: (df, "full", None, None) for name, df in tables.items()}
    )


def run_epoch(
    spark: SparkSession,
    cat: Catalog,
    corpus: DataFrame,
    images: DataFrame,
    robots: DataFrame,
    epoch: int,
    cfg: CrawlConfig,
) -> dict:
    """One crawl tick. Inputs are read pinned below ``epoch``; every output
    table is committed with this epoch. Idempotent: tables already at
    ``epoch`` are left untouched (crash-resume re-entry)."""

    def read(name: str) -> DataFrame:
        return cat.table(name).read_before_epoch(spark, epoch)

    frontier = read("frontier")
    seen_tbl = read("seen")
    bloom_tbl = read("bloom")

    with Materializer() as mat:
        # 1. robots gate (broadcast join; blocked rows are dropped + marked seen
        #    so they are never re-attempted)
        gated = mat(robots_ops.apply_robots(frontier, robots))
        allowed = gated.where(F.col("allowed"))
        blocked = gated.where(~F.col("allowed"))

        # 2. politeness schedule: ≤ budget per host, salted two-phase ranking
        scheduled = mat(politeness.schedule(allowed, cfg.budget, n_salts=cfg.n_salts))

        fetch_log = scheduled.select(
            F.lit(epoch).cast("long").alias("epoch"),
            "host", "uri", "slot", "tick", "is_image",
        )

        # 3. fetch = join the content tables (the sandbox's simulated fetch;
        #    on a real crawl this is the executor-side HTTP stage)
        fetched_pages = mat(
            scheduled.where(~F.col("is_image"))
            .select("uri", "priority")
            .join(corpus, "uri", "inner")
        )
        fetched_images = (
            scheduled.where(F.col("is_image"))
            .select(F.col("uri").alias("image_id"), F.lit(epoch).cast("long").alias("epoch"))
            .join(images, "image_id", "inner")
        )

        # 4. link extraction: each fetched link is canonicalized once, and
        #    the cut feeds both the candidates (priority = parent*decay) and
        #    the index deltas' outbound links (step 7)
        links = mat(canonicalize(fetched_pages.select(
            F.col("uri").alias("page_uri"), "priority",
            F.explode("out_urls").alias("url"),
        )))
        children = links.select(
            "uri", "url", "host", "path", "is_image",
            (F.col("priority") * cfg.priority_decay).alias("priority"),
        )

        # 5. seen-set insert: everything scheduled or robots-blocked this epoch
        newly_seen = mat(
            scheduled.select("uri", "host")
            .unionByName(blocked.select("uri", "host"))
            .distinct()
        )
        seen_next = seen_tbl.unionByName(newly_seen)
        # O(delta) filter maintenance: only the shards this epoch's uris land
        # on are recomputed (touched-slice semi-join inside the insert) and
        # committed as a mode="merge" snapshot keyed on pid — the untouched
        # ~n_partitions bitmap rows are never rewritten (the reference's
        # touch-only-dirtied-buckets discipline, UriCombineQ.java:87-90).
        # The Python insert kernel feeds BOTH the in-epoch probe (via
        # bloom_next) and the commit: cut, it runs once.
        bloom_delta = mat(cfg.bloom.insert(newly_seen.select("uri"), bloom_tbl, delta_only=True))
        bloom_next = bloom_tbl.join(
            F.broadcast(bloom_delta.select("pid")), "pid", "left_anti"
        ).unionByName(bloom_delta)

        # 6. frontier update, O(delta): consumed rows (scheduled + robots-
        #    blocked) become merge-commit DELETE keys; unseen new candidates
        #    become UPSERT rows.  A child already on the frontier gets the
        #    merged value (max priority, min discovery epoch) via ONE
        #    key-partitioned join of the delta-sized fresh set against the
        #    frontier — never a groupBy over the whole remaining ∪ fresh
        #    union (at a 10^9-row frontier that groupBy is a full-state
        #    shuffle + rewrite per tick).  This is literally the
        #    ``MERGE INTO frontier`` statement in sources/iceberg_sql.py:
        #    MATCHED AND consumed -> DELETE; MATCHED -> greatest(priority);
        #    NOT MATCHED -> INSERT.
        fresh = seen_ops.filter_unseen(
            children, seen_next, bloom_next, params=cfg.bloom, mat=mat
        )
        fresh_agg = mat(fresh.groupBy("uri").agg(
            F.first("url").alias("url"),
            F.first("host").alias("host"),
            F.first("path").alias("path"),
            F.max("priority").alias("priority"),
            F.first("is_image").alias("is_image"),
        ))
        # old values for colliding keys only: broadcast-semi slice of the
        # frontier (scan, no state shuffle), then a delta×delta left join
        old_slice = delta_ops.touched(frontier, fresh_agg, "uri").select(
            "uri",
            F.col("priority").alias("__old_prio"),
            F.col("discovered_epoch").alias("__old_de"),
        )
        frontier_upserts = (
            fresh_agg.join(old_slice, "uri", "left")
            .select(
                "uri", "url", "host", "path",
                F.greatest(
                    F.col("priority"), F.coalesce("__old_prio", F.lit(float("-inf")))
                ).alias("priority"),
                F.least(
                    F.lit(epoch + 1).cast("long"),
                    F.coalesce("__old_de", F.lit((1 << 62))),
                ).cast("long").alias("discovered_epoch"),
                "is_image",
            )
            .select(*[f.name for f in FRONTIER_SCHEMA.fields])
        )
        frontier_tombstones = newly_seen.select("uri")

        # 7. index maintenance: fetched pages become 'put' deltas for the
        #    delta cascade (operators/delta.py, T1-T5) — the one chain the
        #    stream micro-batch and the IndexIT tests run too.  index_rows is
        #    never read: its merge commit comes from delta-sized inputs only.
        link_structs = links.select(
            "page_uri",
            F.struct(
                F.col("url"), F.col("uri"), F.lit("").alias("anchor_text")
            ).alias("l"),
        )
        links_by_page = link_structs.groupBy("page_uri").agg(
            F.collect_list("l").alias("outbound_links")
        )
        deltas = (
            fetched_pages.select("uri", "url", "title")
            .join(links_by_page, fetched_pages.uri == links_by_page.page_uri, "left")
            .select(
                "url",
                "uri",
                F.lit(None).cast("string").alias("crawl_date"),
                F.lit(None).cast("string").alias("server"),
                "title",
                normalize_links(
                    F.coalesce(
                        "outbound_links",
                        F.array().cast(PAGE_SCHEMA["outbound_links"].dataType),
                    )
                ).alias("outbound_links"),
                F.lit("put").alias("op"),
            )
        )
        index_outputs, feed = delta_ops.cascade(
            read("index_pages"), read("uri_counts"), read("domain_counts"), deltas, mat
        )

        # metrics: ONE job over delta-sized inputs, exact reference meter
        # semantics (see epoch_meters' docstring) — never a scan of the full
        # uri_counts state for telemetry.
        metrics = epoch_meters(*feed)
        part_metrics = _partition_metrics(
            fetch_log.select("uri"), cfg.metric_partitions
        )

        # ------------------------------------------------------------- commits
        # One overlapped commit of all ten tables (Catalog.commit_epoch); the
        # epoch is done once every table carries it, so no commit order matters.
        # It drains every commit before it returns or raises, so the scope's
        # exit releases the epoch's cut frames only once no job reads them.
        # Every per-epoch commit is O(delta) write volume:
        #   * monotone tables (seen / fetch_log / pages_state / fetched_images)
        #     append ONLY this epoch's rows (Iceberg: fast-append);
        #   * MUTATING tables (uri_counts / domain_counts / index_pages /
        #     index_rows / frontier) commit mode="merge" — upsert rows +
        #     delete keys, reconciled on read (Iceberg: MERGE INTO with
        #     merge-on-read equality deletes; the exact statements in
        #     sources/iceberg_sql.py).  Rewriting any of them in full each
        #     epoch is O(total-state) — quadratic over a crawl, the last
        #     10^10-scale killer the round-3 seam still had;
        #   * the bloom/cuckoo filter ALSO commits mode="merge" keyed on
        #     pid: one epoch's uris touch a bounded set of (host, salt)
        #     shards, so only those bitmap rows are recomputed and written
        #     (delta_only insert above) — at the 10^10 sizing (14.4 GiB over
        #     1024 shards, docs/SCALE.md) a full rewrite per tick is 14.4 GiB
        #     of write volume for a few-MiB dirty set.
        outputs = {
            "pages_state": (
                fetched_pages.select(
                    "uri", "url", "host", "title", "out_urls",
                    F.lit(epoch).cast("long").alias("fetched_epoch"),
                ),
                "append", None, None,
            ),
            "fetched_images": (fetched_images, "append", None, None),
            "fetch_log": (fetch_log, "append", None, None),
            "seen": (newly_seen, "append", None, None),
            "bloom": (bloom_delta, "merge", ["pid"], None),
            **{
                t: (upserts, "merge", keys, dels)
                for t, (upserts, keys, dels) in index_outputs.items()
            },
            "frontier": (frontier_upserts, "merge", ["uri"], frontier_tombstones),
        }
        cat.commit_epoch(
            spark, epoch, outputs,
            lineage={t: epoch - 1 for t in TABLES}, metrics=metrics,
            partition_metrics=part_metrics,
        )
    return metrics


def run_crawl(
    spark: SparkSession,
    cat: Catalog,
    corpus: DataFrame,
    images: DataFrame,
    robots: DataFrame,
    seeds: DataFrame,
    n_epochs: int,
    cfg: CrawlConfig | None = None,
) -> list[dict]:
    """Crawl for ``n_epochs`` with resume: epochs whose outputs are all
    committed are skipped entirely (no refetch after a kill) and report
    the meters their own snapshot recorded."""
    cfg = cfg or CrawlConfig()
    init_crawl(spark, cat, seeds, cfg)
    all_metrics = []
    for epoch in range(1, n_epochs + 1):
        if cat.done(TABLES, epoch):
            t = cat.table("frontier")
            all_metrics.append(t.manifest(t.snapshot_before_epoch(epoch + 1))["metrics"])
        else:
            all_metrics.append(run_epoch(spark, cat, corpus, images, robots, epoch, cfg))
    return all_metrics
