"""The benchmark workloads, each a function of a :class:`Ctx`.

A workload sets up (untimed for the unit metrics, timed as ``setup_s``),
runs its timed units, then checks its outputs (untimed).  Every unit of
timed work is wrapped in a tracer span named after the public call it
makes, so the traced run attributes Spark cost to the layer that caused
it.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F

from perfbench import gen
from perfbench.trace import Tracer, traced_snapshots


@dataclass
class Ctx:
    seed: int
    seconds: int
    trace: bool
    work_dir: str  # inside the checkout; removed when the run ends
    cores: int


@dataclass
class Result:
    setup_s: float = 0.0
    units: list[float] = field(default_factory=list)  # seconds per timed unit
    items: int = 0  # work items the timed units completed
    timed_s: float = 0.0  # wall time of the timed section
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    spans: list[dict] = field(default_factory=list)


class Session:
    """The run's fresh ``local[cores]`` session and its fresh directories."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = None
        self.start_s = 0.0

    def start(self):
        from webindex_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.ctx.cores}]",
            shuffle_partitions=self.ctx.cores,
            extra_conf={
                "spark.driver.memory": "3g",
                # keep every job and stage in the status store so the
                # traced run can attribute all of them
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.local.dir": os.path.join(self.ctx.work_dir, "spark-local"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        if self.spark.sparkContext._jsc.getPersistentRDDs().size() != 0:
            raise RuntimeError("fresh session holds cached RDDs")
        return self.spark

    def stop(self):
        """Stop the session, then the JVM behind it, and wait for it to exit
        (it exits when its stdin pipe closes)."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None and gw.proc is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.ctx.work_dir, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


def set_up(sess: Session, res: Result, build):
    """Start the session and ``build(spark)`` the workload's initial state;
    ``setup_s`` is the wall time of both.  Set-up runs once per run: the
    JVM starts only once per process, and repeating the rest would cost a
    large share of the benchmark's time budget."""
    t0 = time.perf_counter()
    state = build(sess.start())
    res.setup_s = time.perf_counter() - t0
    return state


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are too few samples for one), and its label."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], "max"
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))  # nearest-rank percentile
    return xs[rank - 1], f"p{pct}"


def check(res: Result, name: str, ok: bool) -> None:
    res.checks[name] = bool(ok)
    res.attempted += 1
    res.failed += 0 if ok else 1


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def index_it(spark, pages, uri_counts, domain_counts, index_rows,
             skip_zero_link_cur: bool) -> dict[str, bool]:
    """IndexIT: incremental state equals ``index_batch.build_index`` over
    the final pages.  ``skip_zero_link_cur`` drops the crawl's page:cur
    rows of pages without links, which the batch renderer never writes
    (the reference's loader never delivers such pages)."""
    from webindex_spark.operators import index_batch

    buc, bdc, bir = index_batch.build_index(pages, cache=False)
    got_rows = _rows(index_rows)
    if skip_zero_link_cur:
        zero = {r["uri"] for r in pages.where(F.size("outbound_links") == 0)
                .select("uri").collect()}
        got_rows = {t for t in got_rows
                    if not (t[1] == "page" and t[2] == "cur" and t[0][2:] in zero)}
    return {
        "indexit_uri_counts": _rows(uri_counts) == _rows(buc),
        "indexit_domain_counts": _rows(domain_counts) == _rows(bdc),
        "indexit_index_rows": got_rows == _rows(bir),
    }


# ------------------------------------------------------------------ crawl

CRAWL_BUDGET = 10


def crawl(ctx: Ctx, sess: Session, res: Result) -> Tracer:
    """``frontier.init_crawl`` and epoch 1 in set-up, then timed
    ``frontier.run_epoch`` calls from epoch 2 on, one per ten seconds.

    Epoch 1 fetches only the seeds, over empty state tables.  From epoch 2
    the frontier holds the pages the seeds link to, the hot host's among
    them, so the per-host budget binds and the delta cascade joins against
    state.  With the package default ``compact_every=2`` the first timed
    epoch compacts every merged table, so every run at the benchmark's ten
    seconds does the same compaction work."""
    from webindex_spark.operators import frontier
    from webindex_spark.sources.snapshots import Catalog

    world = gen.crawl_world(ctx.seed)
    cfg = frontier.CrawlConfig(budget=CRAWL_BUDGET, bloom_expected_n=100_000)
    n_epochs = max(1, round(ctx.seconds / 10))

    def build(spark):
        corpus = spark.createDataFrame(world["corpus"]).cache()
        images = spark.createDataFrame(world["images"]).cache()
        corpus.count(), images.count()
        robots = spark.createDataFrame(world["robots"])
        cat = Catalog(sess.fresh_dir("catalog"))
        frontier.init_crawl(spark, cat, spark.createDataFrame(world["seeds"]), cfg)
        frontier.run_epoch(spark, cat, corpus, images, robots, 1, cfg)
        return corpus, images, robots, cat

    corpus, images, robots, cat = set_up(sess, res, build)
    spark = sess.spark
    tr = Tracer(spark, ctx.trace)
    with traced_snapshots(tr):
        for e in range(2, n_epochs + 2):
            t0 = time.perf_counter()
            with tr.span("frontier.run_epoch", unit=True, epoch=e):
                frontier.run_epoch(spark, cat, corpus, images, robots, e, cfg)
            res.units.append(time.perf_counter() - t0)
            res.attempted += 1

    fetch_log = cat.table("fetch_log").read(spark).toPandas()
    per_host = fetch_log.groupby(["epoch", "host"]).size()
    timed_per_host = per_host[per_host.index.get_level_values("epoch") >= 2]
    res.items = int(timed_per_host.sum())
    seen = cat.table("seen").read(spark).toPandas()
    front = cat.table("frontier").read(spark).select("uri").toPandas()
    robots_pd = world["robots"]
    disallow = {r.host: list(r.disallow) for r in robots_pd.itertuples()}
    paths = fetch_log["uri"].str.split(">", n=3).str[3]
    check(res, "crawl_host_budget", per_host.max() <= CRAWL_BUDGET)
    check(res, "crawl_no_refetch", not fetch_log["uri"].duplicated().any())
    check(res, "crawl_robots_respected", not any(
        any(p.startswith(d) for d in disallow.get(h, []))
        for h, p in zip(fetch_log["host"], paths)))
    check(res, "crawl_fetch_log_in_seen", set(fetch_log["uri"]) <= set(seen["uri"]))
    check(res, "crawl_frontier_disjoint_seen",
          not set(front["uri"]) & set(seen["uri"]))
    pages = cat.table("index_pages").read(spark).cache()
    fetched_pages = set(fetch_log.loc[~fetch_log["is_image"], "uri"]) & set(
        world["corpus"]["uri"])
    check(res, "crawl_index_pages", {r["uri"] for r in pages.select("uri").collect()}
          == fetched_pages)
    for name, ok in index_it(
        spark, pages, cat.table("uri_counts").read(spark),
        cat.table("domain_counts").read(spark), cat.table("index_rows").read(spark),
        skip_zero_link_cur=True,
    ).items():
        check(res, name, ok)

    res.report.update({
        "crawl_fetches_per_s": (res.items / sum(res.units), "1/s"),
        "crawl_epoch_p50_s": (statistics.median(res.units), "s"),
        # what the timed epochs did: fetches, the busiest host's fetches and
        # the share of hosts the budget capped, per epoch
        "crawl_fetches_per_epoch": (res.items / n_epochs, "count"),
        "crawl_host_max_fetches": (int(timed_per_host.max()), "count"),
        "crawl_hosts_at_budget_frac": (
            float((timed_per_host == CRAWL_BUDGET).mean()), "1"),
    })
    return tr


# ----------------------------------------------------------- index_stream

STREAM_BATCH_PAGES = 2_000


def index_stream(ctx: Ctx, sess: Session, res: Result) -> Tracer:
    """Batch 0 (the base page set) is committed untimed; then timed
    ``page_stream.apply_page_batch`` micro-batches of re-crawled and new
    pages.  ``page_stream`` never compacts, so merge-on-read chains grow
    with each batch."""
    from webindex_spark.operators.index_batch import PAGE_SCHEMA, normalize_links
    from webindex_spark.sources.snapshots import Catalog
    from webindex_spark.streaming import page_stream

    n_batches = max(4, round(ctx.seconds / 2.5))
    batches = gen.page_batches(ctx.seed, n_batches, batch_pages=STREAM_BATCH_PAGES)

    def frame(spark, rows):
        return spark.createDataFrame(rows, PAGE_SCHEMA).withColumn(
            "outbound_links", normalize_links("outbound_links"))

    def build(spark):
        cat = Catalog(sess.fresh_dir("catalog"))
        page_stream._empty_state(spark, cat)
        page_stream.apply_page_batch(spark, cat, frame(spark, batches[0]), 0)
        return cat

    cat = set_up(sess, res, build)
    spark = sess.spark
    tr = Tracer(spark, ctx.trace)
    frames = [frame(spark, b) for b in batches[1:]]
    with traced_snapshots(tr):
        for b, df in enumerate(frames, start=1):
            t0 = time.perf_counter()
            with tr.span("page_stream.apply_page_batch", unit=True, batch=b):
                page_stream.apply_page_batch(spark, cat, df, b)
            res.units.append(time.perf_counter() - t0)
            res.attempted += 1
            res.items += len(batches[b])

    final = frame(spark, gen.final_pages(batches)).cache()
    got_pages = cat.table("index_pages").read(spark)
    check(res, "stream_index_pages",
          _rows(got_pages.select("uri", "title")) == _rows(final.select("uri", "title")))
    for name, ok in index_it(
        spark, final, cat.table("uri_counts").read(spark),
        cat.table("domain_counts").read(spark), cat.table("index_rows").read(spark),
        skip_zero_link_cur=False,
    ).items():
        check(res, name, ok)
    res.report.update({
        "stream_pages_per_s": (res.items / sum(res.units), "1/s"),
        "stream_batch_p50_s": (statistics.median(res.units), "s"),
        "stream_batch_max_s": (max(res.units), "s"),
    })
    return tr


# ---------------------------------------------------------- frontier_scale

SCALE_URLS = 400_000
SCALE_HOSTS = 5_000
SCALE_BUDGET = 20
SCALE_SALTS = 4
SCALE_IMAGES = 4_000
IMG_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long")


def _gen_images(batches):
    from webindex_spark.operators import synth

    for pdf in batches:
        yield synth.gen_images_pandas(list(pdf["image_id"]))


def scale_candidates(spark, seed: int, n: int):
    """The first ``n`` of the workload's candidate URLs, over
    ``SCALE_HOSTS`` hosts with a tenth of them on host 0, generated inside
    Spark from the seed."""
    h = F.xxhash64(F.lit(seed), F.col("id"))
    hot = F.pmod(h, F.lit(10)) == 0
    hostnum = F.when(hot, F.lit(0)).otherwise(F.pmod(F.shiftright(h, 8), F.lit(SCALE_HOSTS)))
    return spark.range(n).select(
        F.concat(F.lit("com.h"), hostnum.cast("string"), F.lit(">>o>/p/"),
                 F.col("id").cast("string")).alias("uri"),
        F.concat(F.lit("h"), hostnum.cast("string"), F.lit(".com")).alias("host"),
        F.concat(F.lit("/p/"), F.col("id").cast("string")).alias("path"),
        (F.pmod(F.shiftright(h, 20), F.lit(10000)) / 100.0).alias("priority"),
    )


def pre_seen_pred(seed: int):
    """A quarter of the candidates are already seen: a pure function of
    the uri."""
    return F.pmod(F.xxhash64(F.lit(seed), F.lit("seen"), F.col("uri")), F.lit(4)) == 0


def frontier_scale(ctx: Ctx, sess: Session, res: Result) -> Tracer:
    """``sched_pipeline.schedule_frontier`` over generated candidates in
    both filter regimes (broadcast, and cogroup as ``plans/bench_jobs``
    selects it), then ``images.verify_images`` over generated image rows.
    A unit is one pass over the three lanes; the lanes have their own
    rates in the report."""
    from webindex_spark.operators import images as img_ops
    from webindex_spark.operators import sched_pipeline, synth
    from webindex_spark.operators import seen as seen_ops
    from webindex_spark.plans.bench_jobs import synth_robots

    n_parts, bits, k = seen_ops.bloom_params(SCALE_URLS, 0.01, 1024)
    passes = max(1, round(ctx.seconds / 10))
    lanes = ("bcast", "cogroup", "images")

    def pid():
        return seen_ops.host_salt_pid("host", "uri", SCALE_SALTS, n_parts)

    def run_lane(lane, st, cand, imgs):
        """Returns (work items, scheduled rows or None)."""
        if lane == "images":
            return img_ops.verify_images(
                imgs, synth.image_pixels, synth.image_caption
            ).where(F.col("ok")).count(), None
        old_cap = seen_ops.BROADCAST_BLOOM_MAX_BYTES
        if lane == "cogroup":  # a filter too big to broadcast: the 10^10 sizing
            seen_ops.BROADCAST_BLOOM_MAX_BYTES = 0
        try:
            rows = sched_pipeline.schedule_frontier(
                cand, st["seen"], st["bloom"], st["robots"], SCALE_BUDGET,
                n_salts=SCALE_SALTS, k=k, bits=bits, n_partitions=n_parts,
                num_partitions=ctx.cores, seen_prepartitioned=True, keep_cols=[],
            ).select("uri", "host", "slot").toPandas()
        finally:
            seen_ops.BROADCAST_BLOOM_MAX_BYTES = old_cap
        return len(rows), rows

    def build(spark):
        cand = scale_candidates(spark, ctx.seed, SCALE_URLS)
        pre_seen = cand.where(pre_seen_pred(ctx.seed)).select("uri", "host")
        st = {
            "robots": synth_robots(spark, SCALE_HOSTS),
            "bloom": seen_ops.bloom_insert(
                pre_seen, seen_ops.empty_bloom(spark, n_parts, bits),
                "uri", k, bits, n_parts, pid_expr=pid(),
            ).localCheckpoint(eager=True),
            # the seen table's at-rest (host, salt) layout
            "seen": sched_pipeline.partition_for_schedule(
                pre_seen, n_salts=SCALE_SALTS, num_partitions=ctx.cores,
            ).localCheckpoint(eager=True),
        }
        img_dir = os.path.join(sess.fresh_dir("images"), "data")
        spark.createDataFrame(
            [(x,) for x in gen.image_ids(ctx.seed, SCALE_IMAGES)], "image_id string"
        ).repartition(ctx.cores * 2).mapInPandas(_gen_images, IMG_SCHEMA) \
            .write.parquet(img_dir)
        imgs = spark.read.parquet(img_dir)
        # one untimed pass over a tenth of the candidates and all images,
        # so the timed passes do not pay code generation and Python worker
        # start
        warm = scale_candidates(spark, ctx.seed, SCALE_URLS // 10)
        for lane in lanes:
            run_lane(lane, st, warm, imgs)
        return st, cand, imgs

    st, cand, imgs = set_up(sess, res, build)
    spark = sess.spark
    tr = Tracer(spark, ctx.trace)
    lane_s = {lane: [] for lane in lanes}
    schedules = {}
    for p in range(passes):
        t_pass = time.perf_counter()
        with tr.span("frontier_scale.pass", unit=True, n=p):
            for lane in lanes:
                t0 = time.perf_counter()
                name = "images.verify_images" if lane == "images" else \
                    "sched_pipeline.schedule_frontier"
                with tr.span(name, regime=lane):
                    n, rows = run_lane(lane, st, cand, imgs)
                lane_s[lane].append(time.perf_counter() - t0)
                res.items += n
                if rows is None:
                    check(res, "images_all_verify", n == SCALE_IMAGES)
                else:
                    schedules[lane] = rows
        res.units.append(time.perf_counter() - t_pass)
        res.attempted += 1

    bc, cg = schedules["bcast"], schedules["cogroup"]
    check(res, "schedule_regimes_agree",
          sorted(zip(bc.uri, bc.slot)) == sorted(zip(cg.uri, cg.slot)))
    check(res, "schedule_host_budget", bc.groupby("host").size().max() <= SCALE_BUDGET)
    check(res, "schedule_slots_unique", not bc.duplicated(["host", "slot"]).any())
    leaked = spark.createDataFrame(bc[["uri"]]).where(pre_seen_pred(ctx.seed)).count()
    check(res, "schedule_no_pre_seen", leaked == 0)

    per = {lane: statistics.median(v) for lane, v in lane_s.items()}
    res.report.update({
        "schedule_urls_per_s": (SCALE_URLS / per["bcast"], "1/s"),
        "schedule_cogroup_urls_per_s": (SCALE_URLS / per["cogroup"], "1/s"),
        "image_verify_rows_per_s": (SCALE_IMAGES / per["images"], "1/s"),
    })
    if tr.enabled:
        # useful outcomes / exact-tier probes: of the candidates the bloom
        # tier flags maybe-seen, the share that really were seen
        row = seen_ops.bloom_probe(
            cand.select("uri", "host"), st["bloom"], "uri", k, bits, n_parts,
            pid_expr=pid(),
        ).where(F.col("maybe_seen")).agg(
            F.count("*").alias("maybe"),
            F.sum(pre_seen_pred(ctx.seed).cast("long")).alias("hit"),
        ).first()
        res.layers["seen.maybe_seen_true_ratio"] = row["hit"] / max(1, row["maybe"])
        t0 = time.perf_counter()
        with tr.span("seen.bloom_insert"):
            seen_ops.bloom_insert(
                cand.where(pre_seen_pred(ctx.seed)).select("uri", "host"),
                seen_ops.empty_bloom(spark, n_parts, bits), "uri", k, bits,
                n_parts, pid_expr=pid(),
            ).write.format("noop").mode("overwrite").save()
        res.layers["seen.bloom_insert_s"] = time.perf_counter() - t0
    return tr


# ------------------------------------------------------------------ serve

SERVE_RATE = 4.0  # offered requests per second
SERVE_LIMIT_S = 2.0  # latency limit for serve_over_limit_frac
SERVE_PAGES = 5_000
ROUTES = ("top", "pages", "page", "domain", "links")


def serve(ctx: Ctx, sess: Session, res: Result) -> Tracer:
    """``index_batch.build_index`` tables committed through the snapshot
    catalog, read back into ``webserver.WebIndexApp`` behind
    ``webserver.serve``, then an open loop of HTTP GETs at
    ``SERVE_RATE`` per second for ``--seconds``, sent by at most ``cores``
    sender threads.  Latency counts from each request's due time."""
    import json
    import threading
    import urllib.error
    import urllib.request

    from webindex_spark.operators import index_batch
    from webindex_spark.operators.index_batch import PAGE_SCHEMA, normalize_links
    from webindex_spark.plans import webserver
    from webindex_spark.sources.snapshots import Catalog

    rows = gen.final_pages(gen.page_batches(ctx.seed, 1, base_pages=SERVE_PAGES,
                                            batch_pages=SERVE_PAGES // 5))
    n = int(ctx.seconds * SERVE_RATE)
    paths = gen.serve_requests(ctx.seed, rows, n)
    build_s = []

    def build(spark):
        pages = spark.createDataFrame(rows, PAGE_SCHEMA).withColumn(
            "outbound_links", normalize_links("outbound_links"))
        cat = Catalog(sess.fresh_dir("catalog"))
        t0 = time.perf_counter()
        uc, dc, _ = index_batch.build_index(pages)
        for name, df in (("uri_counts", uc), ("domain_counts", dc), ("pages", pages)):
            cat.table(name).commit(df, epoch=0)
        build_s.append(time.perf_counter() - t0)
        app = webserver.WebIndexApp(
            spark, *(cat.table(t).read(spark) for t in ("uri_counts", "domain_counts", "pages")))
        srv = webserver.serve(app)
        # one request per route of the cycle: the first call of each query
        # shape pays code generation, which users pay once per server
        for p in paths[:len(gen.ROUTE_CYCLE)]:
            with urllib.request.urlopen(
                    f"http://127.0.0.1:{srv.server_port}{p}", timeout=60) as r:
                r.read()
        return app, srv

    app, srv = set_up(sess, res, build)
    spark = sess.spark
    tr = Tracer(spark, ctx.trace)
    for route in ROUTES:  # the in-process route call, on the handler thread
        fn = getattr(app, route)

        def traced(*a, _fn=fn, _name=f"queries.{route}", **kw):
            with tr.span(_name, unit=True):
                return _fn(*a, **kw)
        if tr.enabled:
            setattr(app, route, traced)

    base = f"http://127.0.0.1:{srv.server_port}"
    lat, late, bodies = [None] * n, [0.0] * n, [None] * n
    nxt = iter(range(n))
    lock = threading.Lock()
    t_start = time.perf_counter() + 0.2

    def sender():
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            due = t_start + i / SERVE_RATE
            time.sleep(max(0.0, due - time.perf_counter()))
            late[i] = time.perf_counter() - due
            try:
                with urllib.request.urlopen(base + paths[i], timeout=60) as r:
                    bodies[i] = json.loads(r.read())
                lat[i] = time.perf_counter() - due
            except (urllib.error.URLError, OSError, ValueError):
                pass  # a failed request: counted as failed and over the limit

    senders = [threading.Thread(target=sender) for _ in range(ctx.cores)]
    for t in senders:
        t.start()
    for t in senders:
        t.join()
    res.timed_s = time.perf_counter() - t_start
    srv.shutdown()
    srv.server_close()

    ok = [x for x in lat if x is not None]
    res.units = ok
    res.items = len(ok)
    res.attempted += n
    res.failed += n - len(ok)
    model = ServeModel(rows)
    # every 3rd response: 3 and the route cycle's length are coprime, so
    # every route of the mix is sampled
    for i in range(0, n, 3):
        check(res, f"serve_response_{i}", bodies[i] is not None
              and model.expected(paths[i]) == _canon(paths[i], bodies[i]))
    over = sum(1 for x in lat if x is None or x > SERVE_LIMIT_S)
    tail_s, label = tail(ok)
    res.report.update({
        "serve_p50_ms": (1000 * statistics.median(ok), "ms"),
        f"serve_tail_ms ({label})": (1000 * tail_s, "ms"),
        "serve_over_limit_frac": (over / n, "1"),
        "serve_generator_late_max_ms": (1000 * max(late), "ms"),
    })
    res.layers["index_batch.build_s"] = build_s[-1]
    if tr.enabled:
        by_route: dict[str, list[float]] = {}
        for p, x in zip(paths, lat):
            if x is not None:
                by_route.setdefault(_route(p), []).append(x)
        overhead = []
        for route in ROUTES:
            spans = [s.dur for s in tr.spans if s.name == f"queries.{route}"]
            if spans:
                route_s = statistics.median(spans)
                res.layers[f"queries.{route}_ms"] = 1000 * route_s
                overhead.append(statistics.median(by_route[route]) - route_s)
        res.layers["webserver.http_overhead_ms"] = 1000 * statistics.median(overhead)
    return tr


def _route(path: str) -> str:
    return path.split("?", 1)[0].strip("/") or "top"


def _canon(path: str, body: dict):
    """The parts of a response the pandas model recomputes."""
    route = _route(path)
    if route == "top":
        return [(r["uri"], r["links_to"], r["docs"]) for r in body["results"]], body["next"]
    if route == "pages":
        return body["total"], [(p["uri"], p["score"], p["rank"]) for p in body["pages"]]
    if route == "page":
        return body["uri"], body["stored"], body["num_inbound"], body.get("title")
    if route == "domain":
        return body["total"]
    return [tuple(sorted(x.items())) for x in body["links"]]


class ServeModel:
    """The query surface recomputed in pandas from the generated pages."""

    def __init__(self, rows: list[dict]):
        import pandas as pd

        self.pages = {r["uri"]: r for r in rows}
        links = []
        for r in rows:
            for l in sorted(r["outbound_links"], key=lambda l: (l["uri"], l["url"])):
                links.append((r["uri"], l["uri"], l["url"], l["anchor_text"]))
        self.links = pd.DataFrame(links, columns=["src", "dst", "url", "anchor"])
        counts = pd.concat([
            pd.DataFrame({"uri": list(self.pages), "links_to": 0, "docs": 1}),
            pd.DataFrame({"uri": self.links["dst"], "links_to": 1, "docs": 0}),
        ]).groupby("uri", as_index=False).sum()
        self.counts = counts.sort_values(["links_to", "uri"], ascending=[False, True])
        self.rev = self.counts["uri"].str.split(">", n=1).str[0]

    def expected(self, path: str):
        from urllib.parse import parse_qs, urlparse

        from webindex_spark.functions import urlnorm

        q = {k: v[0] for k, v in parse_qs(urlparse(path).query).items()}
        route = _route(path)
        c = self.counts
        size = 25
        if route == "top":
            if "next" in q:
                lt, u = q["next"].split("|", 1)
                c = c[(c.links_to < int(lt)) | ((c.links_to == int(lt)) & (c.uri >= u))]
            top = [tuple(x) for x in c.head(size + 1)[["uri", "links_to", "docs"]]
                   .itertuples(index=False)]
            nxt = f"{top[-1][1]}|{top[-1][0]}" if len(top) > size else None
            return top[:size], nxt
        if route in ("pages", "domain"):
            rev = ".".join(reversed(q["domain"].split(".")))
            sl = c[self.rev == rev]
            if route == "domain":
                return len(sl)
            return len(sl), [(u, lt, k + 1) for k, (u, lt) in
                             enumerate(sl.head(size)[["uri", "links_to"]].itertuples(index=False))]
        if route == "page":
            uri = urlnorm.to_uri(q["url"])
            page = self.pages.get(uri)
            hit = c[c.uri == uri]
            return (uri, page is not None, int(hit.links_to.iloc[0]) if len(hit) else 0,
                    page["title"] if page else None)
        lk = self.links
        if q.get("linkType", "in") == "in":
            sel = lk[lk.dst == q["uri"]].sort_values("src").head(size)
            return [tuple(sorted({"src_uri": s, "dst_uri": d, "anchor_text": a}.items()))
                    for s, d, a in sel[["src", "dst", "anchor"]].itertuples(index=False)]
        sel = lk[lk.src == q["uri"]].head(size)
        return [tuple(sorted({"pos": k, "url": u, "uri": d, "anchor_text": a}.items()))
                for k, (u, d, a) in enumerate(sel[["url", "dst", "anchor"]].itertuples(index=False))]


WORKLOADS = {
    "crawl": crawl,
    "index_stream": index_stream,
    "frontier_scale": frontier_scale,
    "serve": serve,
}


def run(name: str, ctx: Ctx) -> Result:
    res = Result()
    sess = Session(ctx)
    try:
        tr = WORKLOADS[name](ctx, sess, res)
        if tr.enabled:
            tr.collect_stats()
            res.spans = tr.dump()
            from perfbench.layers import summarize

            res.layers.update(summarize(tr, sess, res))
    finally:
        sess.stop()
    return res


def make_ctx(seed: int, seconds: int, trace: bool, root: str) -> Ctx:
    os.makedirs(root, exist_ok=True)
    return Ctx(seed=seed, seconds=seconds, trace=trace,
               work_dir=tempfile.mkdtemp(prefix="run-", dir=root),
               cores=len(os.sched_getaffinity(0)))
