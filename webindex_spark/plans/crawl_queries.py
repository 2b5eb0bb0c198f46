"""Driver correctness-gate queries (SURVEY.md §2 inventory → runnable pairs).

Each entry is a (Spark callable, DuckDB oracle SQL) pair over the
driver-provided parquet tables (TESTDATA.md: region nation customer
supplier part orders lineitem events documents embeddings).

The crawl-engine operators run over a deterministic *link graph derived
from the TPC-H-ish tables in pure relational form*, so the DuckDB oracle
can recompute the same answer in ANSI SQL:

  * every ``orders`` row is a crawled page with canonical URI
    ``com.h<o_custkey%50>>>o>/o/<o_orderkey>`` (host ``h<k>.com``);
  * its outbound links are its ``lineitem`` rows, pointing at
    ``com.p<l_partkey%100>>>o>/p/<l_partkey>`` (host ``p<k>.com``) —
    distinct per (src, dst) like the reference's TreeSet<Link>
    (Page.java:39-41), and always external-domain (ArchiveUtil.java:84
    holds by construction since ``h*`` and ``p*`` domains are disjoint).

The URL-codec semantics themselves (PSL, ports, lexicoder bytes, Gson
JSON) are validated separately against the reference's own golden vectors
in tests/ — here the gate exercises the *relational* semantics: the
aggregation monoid, link inversion, ranking, politeness windows, seen-set
anti-joins, and snapshot merges, plus the training-data operators over
``documents``/``embeddings``.

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver hashes values under sorted
column names).  Every numeric output is cast to BIGINT/DOUBLE explicitly
on both sides (DuckDB's SUM would otherwise return HUGEINT/INT128).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from webindex_spark.operators import index_batch

# ---------------------------------------------------------------------------
# shared derivation


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across the full shuffle parallelism: the parquet
    is 1-2 row groups, so the scan alone yields 1-2 partitions and any
    per-row kernel (the portable char-hash folds especially) would run on
    2 of N cores.  The round-robin repartition of a few-MB table is noise
    next to the 10-30x parallelism it unlocks; at real scale the input
    has thousands of splits and this becomes a no-op choice."""
    return _t(spark, sf_dir, "documents").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions"))
    )


def _src_uri_col() -> F.Column:
    return F.concat(
        F.lit("com.h"),
        (F.col("o_custkey") % 50).cast("string"),
        F.lit(">>o>/o/"),
        F.col("o_orderkey").cast("string"),
    )


def _dst_uri_col() -> F.Column:
    return F.concat(
        F.lit("com.p"),
        (F.col("l_partkey") % 100).cast("string"),
        F.lit(">>o>/p/"),
        F.col("l_partkey").cast("string"),
    )


def page_uris(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(_src_uri_col().alias("uri"))


def link_edge_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped integer key triple behind the link graph:
    ``(o_custkey, o_orderkey, l_partkey)`` with one row per distinct
    (orderkey, partkey) pair.  ``o_orderkey`` determines the source uri
    (custkey is functionally dependent on it) and ``l_partkey`` the
    destination uri, both INJECTIVELY — so any count/structure query
    over the string graph can run on these longs instead (guide §8:
    shuffle a lightweight proxy, build strings only where the output
    needs them)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "o_orderkey", "l_partkey")
        .dropDuplicates(["o_orderkey", "l_partkey"])
    )


def int_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The link graph on LONG node ids: source pages as ``o_orderkey``
    (positive), destination resources as ``-l_partkey - 1`` (negative)
    — injective images of the uri strings in disjoint ranges.  Any
    structure-determined result (ranks, hop depths, hub/auth scores) is
    identical under this bijection, and every per-iteration shuffle
    moves 8-byte longs instead of ~30-char strings (guide §2.3 narrower
    types + §8 lightweight-proxy rule); :func:`int_id_to_uri` maps the
    node-sized RESULT back to uri strings once at the end."""
    return link_edge_keys(spark, sf_dir).select(
        F.col("o_orderkey").alias("src"),
        (-F.col("l_partkey") - 1).alias("dst"),
    )


def int_id_to_uri(
    spark: SparkSession, sf_dir: str, df: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Replace a long node-id column (int_link_edges encoding) with the
    uri string it stands for, as ``__uri``.  Destination uris are a pure
    expression of the id (partkey is recoverable); source uris need
    custkey, which costs ONE node-sized join with orders — linear, once,
    after the iterative work is done on longs."""
    src_map = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias(id_col), _src_uri_col().alias("__uri")
    )
    pk = -F.col(id_col) - 1
    dsts = df.where(F.col(id_col) < 0).withColumn(
        "__uri",
        F.concat(
            F.lit("com.p"),
            (pk % 100).cast("string"),
            F.lit(">>o>/p/"),
            pk.cast("string"),
        ),
    )
    srcs = df.where(F.col(id_col) >= 0).join(src_map, id_col)
    return srcs.unionByName(dsts)


def link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (src_uri, dst_uri) link edges — the exploded form of the
    pages' outbound_links arrays.  The orders⋈lineitem join is a plain
    shuffle join on the fact keys; at scale both sides are co-partitioned
    by orderkey (bucketed layout), so this is the cheap path compared to
    materializing pages arrays first.

    The DISTINCT runs on the integer key pair (orderkey determines the
    src uri, partkey the dst) BEFORE the uri strings are built: deduping
    two longs shuffles ~4× fewer bytes than deduping two ~30-char strings,
    and the string concat then runs once per surviving edge."""
    return link_edge_keys(spark, sf_dir).select(
        _src_uri_col().alias("src_uri"), _dst_uri_col().alias("dst_uri")
    )


_SQL_PAGES = (
    "SELECT 'com.h' || CAST(o_custkey % 50 AS VARCHAR) || '>>o>/o/' || "
    "CAST(o_orderkey AS VARCHAR) AS uri FROM orders"
)
_SQL_EDGES = (
    "SELECT DISTINCT "
    "'com.h' || CAST(o_custkey % 50 AS VARCHAR) || '>>o>/o/' || CAST(o_orderkey AS VARCHAR) AS src_uri, "
    "'com.p' || CAST(l_partkey % 100 AS VARCHAR) || '>>o>/p/' || CAST(l_partkey AS VARCHAR) AS dst_uri "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
)
_SQL_URI_COUNTS = (
    "SELECT uri, CAST(SUM(links_to) AS BIGINT) AS links_to, "
    "CAST(SUM(docs) AS BIGINT) AS docs FROM ("
    f"SELECT uri, 0 AS links_to, 1 AS docs FROM ({_SQL_PAGES}) "
    f"UNION ALL SELECT dst_uri AS uri, 1 AS links_to, 0 AS docs FROM ({_SQL_EDGES})"
    ") u GROUP BY uri"
)


def uri_counts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the UriInfo monoid over the derived link graph, THROUGH the
    production aggregation (index_batch.uri_map_from_edges — the same code
    path create_uri_map wraps and the set1 golden locks)."""
    return index_batch.uri_map_from_edges(
        page_uris(spark, sf_dir),
        link_edges(spark, sf_dir).select(F.col("dst_uri").alias("uri")),
    )


# ---------------------------------------------------------------------------
# the query suite


def q_uri_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uri_counts_df(spark, sf_dir)


SQL_URI_COUNTS = _SQL_URI_COUNTS


def q_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: distinct-URI count per reverse domain (IndexUtil.java:93-102)."""
    return index_batch.create_domain_map(uri_counts_df(spark, sf_dir))


SQL_DOMAIN_COUNTS = (
    f"SELECT split_part(uri, '>', 1) AS rev_domain, CAST(COUNT(*) AS BIGINT) AS pagecount "
    f"FROM ({_SQL_URI_COUNTS}) uc GROUP BY 1"
)


def q_inlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/U2: link inversion — the inlinks edge table (IndexUtil.java:125-128)."""
    return link_edges(spark, sf_dir).select(
        F.col("dst_uri"), F.col("src_uri")
    )


SQL_INLINKS = f"SELECT dst_uri, src_uri FROM ({_SQL_EDGES}) e"


def q_top_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (IndexClient.getTopResults:69-95): global top-25 by inbound count.
    Catalyst plans this as TakeOrderedAndProject — no global sort."""
    return (
        uri_counts_df(spark, sf_dir)
        .orderBy(F.desc("links_to"), F.asc("uri"))
        .limit(25)
    )


SQL_TOP_PAGES = f"SELECT * FROM ({_SQL_URI_COUNTS}) uc ORDER BY links_to DESC, uri ASC LIMIT 25"


def q_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (IndexClient.getPages:159-188): per-domain URIs ranked by inbound
    count — the window-function restatement of the reference's
    revEncodeLong key trick (SURVEY.md §2.5)."""
    uc = uri_counts_df(spark, sf_dir).withColumn(
        "rev_domain", F.split_part(F.col("uri"), F.lit(">"), F.lit(1))
    )
    w = Window.partitionBy("rev_domain").orderBy(F.desc("links_to"), F.asc("uri"))
    return (
        uc.withColumn("rank_in_domain", F.row_number().over(w).cast("long"))
        .where(F.col("rank_in_domain") <= 5)
        .select("rev_domain", "uri", "links_to", "rank_in_domain")
    )


SQL_DOMAIN_RANK = (
    "SELECT rev_domain, uri, links_to, rank_in_domain FROM ("
    "SELECT split_part(uri, '>', 1) AS rev_domain, uri, links_to, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY split_part(uri, '>', 1) "
    "ORDER BY links_to DESC, uri ASC) AS BIGINT) AS rank_in_domain "
    f"FROM ({_SQL_URI_COUNTS}) uc) r WHERE rank_in_domain <= 5"
)


def q_frontier_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact tier of the URL-seen set (SURVEY.md §2.3): candidate URIs
    (link targets) LEFT ANTI JOIN already-crawled pages. In the full engine
    the partitioned Bloom pre-filter cheapens this; the anti-join is the
    correctness contract."""
    candidates = link_edges(spark, sf_dir).select(F.col("dst_uri").alias("uri")).distinct()
    seen = page_uris(spark, sf_dir)
    return candidates.join(seen, "uri", "left_anti")


SQL_FRONTIER_UNSEEN = (
    f"SELECT DISTINCT dst_uri AS uri FROM ({_SQL_EDGES}) e "
    f"WHERE dst_uri NOT IN (SELECT uri FROM ({_SQL_PAGES}) p)"
)


def q_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 politeness scheduling THROUGH the production operator
    (operators/politeness.schedule — the salted two-phase path with
    budget cut and crawl_delay ticks), so the oracle certifies the code
    the crawl loop actually runs, not a simplified shadow.  The oracle is
    the naive single ranking window: phase 1 of the salted path never
    discards a row the exact ranking keeps, so the results are identical
    (politeness.py docstring) — which is exactly the property worth
    locking with a bit-exact gate."""
    from webindex_spark.operators import politeness

    ev = _t(spark, sf_dir, "events")
    frontier = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("uri"),
        F.col("value").alias("priority"),
        (1.0 + (F.col("user_id") % 20) % 3).cast("double").alias("crawl_delay"),
    )
    sched = politeness.schedule(frontier, budget=100, n_salts=8)
    return sched.select("host", "uri", "slot", "tick")


SQL_SCHEDULE = (
    "SELECT host, uri, CAST(rn - 1 AS BIGINT) AS slot, "
    "CAST((rn - 1) * crawl_delay AS DOUBLE) AS tick FROM ("
    "SELECT host, uri, crawl_delay, ROW_NUMBER() OVER (PARTITION BY host "
    "ORDER BY priority DESC, uri ASC) AS rn FROM ("
    "SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host, "
    "'e' || CAST(event_id AS VARCHAR) AS uri, value AS priority, "
    "CAST(1.0 + (user_id % 20) % 3 AS DOUBLE) AS crawl_delay FROM events) f) r "
    "WHERE rn <= 100"
)


def _sched_world(spark: SparkSession, sf_dir: str):
    """Shared candidates/robots/seen derivation for the two fused-plan
    gate queries (the filter tier is the ONLY difference between them)."""
    ev = _t(spark, sf_dir, "events")
    cand = ev.select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("uri"),
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
        F.concat(F.lit("/e/"), F.col("event_id").cast("string")).alias("path"),
        F.col("value").alias("priority"),
    )
    robots = spark.range(20).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.when(F.col("id") % 5 == 2, F.array(F.lit("/e/1")))
        .otherwise(F.array().cast("array<string>")).alias("disallow"),
        (1.0 + (F.col("id") % 3).cast("double")).alias("crawl_delay"),
    )
    seen = ev.where(F.col("event_id") % 4 == 0).select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("uri"),
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
    )
    return cand, robots, seen


def _run_sched_cogroup(spark, sf_dir, filter_kind: str) -> DataFrame:
    from webindex_spark.operators import cuckoo as cuckoo_ops
    from webindex_spark.operators import sched_pipeline
    from webindex_spark.operators import seen as seen_ops

    cand, robots, seen = _sched_world(spark, sf_dir)
    # the cuckoo is sized for the sf0.1 seen set (~25k) with
    # (host,salt)-shard skew headroom — unlike Bloom, an overloaded cuckoo
    # shard raises rather than degrading, so the gate sizes for the
    # largest sf it runs at (bloom_params docstring discusses the same
    # skew math)
    if filter_kind == "cuckoo":
        params = cuckoo_ops.cuckoo_params(60_000, 8)
        k, size = 0, params.m
    else:
        params = seen_ops.bloom_params(2_000, 0.01, 8)
        k, size = params.k, params.bits
    pid = seen_ops.host_salt_pid("host", "uri", 4, params.n_partitions)
    filt = params.insert(seen, params.empty(spark), "uri", pid_expr=pid)
    # force the cogroup branch (the build-time mode decision models a
    # filter past the broadcast cap); restore the cap after construction
    old = seen_ops.BROADCAST_BLOOM_MAX_BYTES
    seen_ops.BROADCAST_BLOOM_MAX_BYTES = 0
    try:
        out = sched_pipeline.schedule_frontier(
            cand, seen, filt, robots, budget=7, n_salts=4,
            k=k, bits=size, n_partitions=params.n_partitions,
            num_partitions=16,
        )
    finally:
        seen_ops.BROADCAST_BLOOM_MAX_BYTES = old
    return out.select(
        "host", "uri",
        F.col("slot").cast("long").alias("slot"),
        F.col("tick").cast("double").alias("tick"),
    )


def q_unseen_two_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-tier unseen filter through the BROADCAST regime's JVM
    probe: a small Bloom (under the broadcast cap) probed with pure
    Catalyst expressions (element_at + shifts in whole-stage codegen,
    seen._probe_jvm), fresh rows passing free and the maybe slice
    taking the exact anti-join.  The filter tier is semantically
    invisible (no false negatives + exact tier), so the oracle is the
    plain NOT IN — which is exactly the property this gate certifies
    for the JVM-expression probe path (the cogroup kernel path is
    certified by sched_cogroup)."""
    from webindex_spark.operators import seen as seen_ops

    cand, _robots, seen = _sched_world(spark, sf_dir)
    params = seen_ops.bloom_params(5_000, 0.01, 8)
    bloom = params.insert(seen.select("uri"), params.empty(spark))
    out = seen_ops.filter_unseen(
        cand, seen.select("uri"), bloom, "uri", params=params
    )
    return out.select("uri", "host", "priority")


SQL_UNSEEN_TWO_TIER = (
    "SELECT 'e' || CAST(event_id AS VARCHAR) AS uri, "
    "'h' || CAST(user_id % 20 AS VARCHAR) AS host, value AS priority "
    "FROM events WHERE event_id % 4 != 0"
)


def q_sched_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUSED 10^10-regime scheduling plan end-to-end through the
    production operator (sched_pipeline.schedule_frontier with the
    cogroup probe+pre-cut Arrow kernel forced): robots broadcast gate →
    ONE (host,salt)-pid candidate exchange → in-kernel bloom probe +
    politeness pre-cut → exact anti-join → two-phase ranking.  The
    oracle is the naive gate+anti-join+single-window SQL — identical
    output because the kernel pre-cut and phase 1 never discard a row
    the exact ranking keeps (sched_pipeline.py docstrings); this row
    value-hash-certifies the scaling benchmark's flagship plan, not just
    its pytest equivalence."""
    return _run_sched_cogroup(spark, sf_dir, "bloom")


def q_sched_cogroup_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fused plan with the CUCKOO tier (exact-deletion filter,
    operators/cuckoo.py) as the in-kernel cheap negative: fingerprint
    lanes probed per (host,salt)-pid shard instead of Bloom bits.  The
    oracle SQL is IDENTICAL to sched_cogroup's — the filter tier is
    semantically invisible (no false negatives + exact anti-join), which
    is precisely the property this gate certifies end-to-end for the
    cuckoo kernel (cuckoo_insert pid_expr sharding + in-kernel lane
    probe + politeness pre-cut)."""
    return _run_sched_cogroup(spark, sf_dir, "cuckoo")


SQL_SCHED_COGROUP = (
    "WITH cand AS (SELECT 'e' || CAST(event_id AS VARCHAR) AS uri, "
    "'h' || CAST(user_id % 20 AS VARCHAR) AS host, "
    "'/e/' || CAST(event_id AS VARCHAR) AS path, value AS priority, "
    "CAST(user_id % 20 AS INT) AS hk, event_id FROM events), "
    "gated AS (SELECT uri, host, priority, event_id, "
    "CAST(1.0 + hk % 3 AS DOUBLE) AS crawl_delay FROM cand "
    "WHERE NOT (hk % 5 = 2 AND starts_with(path, '/e/1'))), "
    "unseen AS (SELECT * FROM gated WHERE event_id % 4 != 0), "
    "r AS (SELECT host, uri, crawl_delay, ROW_NUMBER() OVER ("
    "PARTITION BY host ORDER BY priority DESC, uri ASC) AS rn FROM unseen) "
    "SELECT host, uri, CAST(rn - 1 AS BIGINT) AS slot, "
    "CAST((rn - 1) * crawl_delay AS DOUBLE) AS tick FROM r WHERE rn <= 7"
)


_AUDIO_N = 512          # samples per synthesized clip
_M31 = 1 << 31
# The grouped phash synth needs a PRIME modulus: with 2^31 every "% 256"
# composes through the multiplications ((x*k mod 2^31) mod 256 =
# (x mod 256)*(k mod 256) mod 256), collapsing the whole recurrence to a
# 256-state pattern whose average hash has a handful of attractor values.
_P31 = (1 << 31) - 1  # Mersenne prime 2^31-1


def _gate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_ids spread across the session's full parallelism: the
    multimodal gates are Python-codec-bound (zlib/PNG per row), and the
    documents parquet arrives in a handful of input splits — without the
    repartition the mapInPandas kernels run on 1-2 cores."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _synth_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PCM16 clip per doc_id (pure-integer recurrence —
    portable to the DuckDB oracle), as a full audio-table row set."""
    docs = _gate_docs(spark, sf_dir)
    n = _AUDIO_N

    def synth(batches):
        import numpy as np
        import pandas as pd

        i = np.arange(n, dtype=np.int64)
        for pdf in batches:
            rows = {"audio_id": [], "bytes": []}
            for did in pdf["doc_id"].to_numpy():
                h = (int(did) * 2654435761) % _M31
                x = (h + i * 1103515245) % _M31
                s = ((x * 48271) % _M31) % 65536 - 32768
                rows["audio_id"].append(f"a{did}")
                rows["bytes"].append(s.astype("<i2").tobytes())
            out = pd.DataFrame(rows)
            out["sample_rate"] = np.int32(8000)
            out["n_samples"] = np.int32(n)
            out["fmt"] = "rawa"
            out["caption"] = ""
            yield out

    return docs.mapInPandas(
        synth,
        schema=(
            "audio_id string, bytes binary, sample_rate int, "
            "n_samples int, fmt string, caption string"
        ),
    )


def q_audio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio lane's Spark path under a full value-hash oracle: a
    deterministic PCM16 clip is synthesized per doc_id by a pure-integer
    recurrence (portable to DuckDB — no numpy RNG, no libm in the
    samples), encoded as real 'rawa' payload bytes, then decoded and
    reduced THROUGH the production mapInPandas plumbing
    (operators/audio.gate_features) to the integer-exact RMS/ZCR
    descriptor.  The float rms/zcr columns derive from the exact longs
    by single correctly-rounded IEEE ops (exact-int -> double, /2^k,
    sqrt), identical in both engines — the rfft spectral bands stay
    pytest-oracled (operators/audio.clip_features)."""
    from webindex_spark.operators import audio as audio_ops

    g = audio_ops.gate_features(_synth_audio(spark, sf_dir))
    n = _AUDIO_N
    return g.select(
        "audio_id",
        "sum_sq",
        "zero_crossings",
        (F.sqrt(F.col("sum_sq") / F.lit(n)) / F.lit(32768.0)).alias("rms"),
        (F.col("zero_crossings") / F.lit(n - 1)).alias("zcr"),
    )


SQL_AUDIO_GATE = (
    f"WITH s AS (SELECT doc_id, i, "
    f"(((((doc_id * 2654435761) % {_M31}) + i * 1103515245) % {_M31}) "
    f"* 48271) % {_M31} % 65536 - 32768 AS smp "
    f"FROM documents, range(0, {_AUDIO_N}) t(i)), "
    "p AS (SELECT doc_id, smp, "
    "LAG(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM s), "
    "a AS (SELECT doc_id, CAST(SUM(smp * smp) AS BIGINT) AS sum_sq, "
    "CAST(SUM(CASE WHEN prev IS NOT NULL AND ((smp < 0) != (prev < 0)) "
    "THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings "
    "FROM p GROUP BY doc_id) "
    "SELECT 'a' || CAST(doc_id AS VARCHAR) AS audio_id, sum_sq, "
    "zero_crossings, "
    f"sqrt(sum_sq / {_AUDIO_N}) / 32768.0 AS rms, "
    f"zero_crossings / {_AUDIO_N - 1} AS zcr FROM a"
)


def q_resample_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resample operator inside the value-hash gate: the synthesized
    8 kHz clips run through the PRODUCTION ``resample_audio`` (decode ->
    linear-interpolation kernel -> PCM16 re-encode) at exactly half
    rate, where the interpolation grid lands on integer sample
    positions — so the output samples are the even-index input integers
    EXACTLY (np.interp at knots + lossless codec round-trip), and the
    same RMS/ZCR reduction stays integer-exact.  DuckDB recomputes over
    the even-index subsequence of the recurrence."""
    from webindex_spark.operators import audio as audio_ops

    res = audio_ops.resample_audio(_synth_audio(spark, sf_dir), to_sr=4000)
    n = _AUDIO_N // 2
    g = audio_ops.gate_features(res)
    return g.select(
        "audio_id",
        "sum_sq",
        "zero_crossings",
        (F.sqrt(F.col("sum_sq") / F.lit(n)) / F.lit(32768.0)).alias("rms"),
        (F.col("zero_crossings") / F.lit(n - 1)).alias("zcr"),
    )


SQL_RESAMPLE_GATE = (
    f"WITH s AS (SELECT doc_id, j, "
    f"(((((doc_id * 2654435761) % {_M31}) + (2 * j) * 1103515245) % {_M31}) "
    f"* 48271) % {_M31} % 65536 - 32768 AS smp "
    f"FROM documents, range(0, {_AUDIO_N // 2}) t(j)), "
    "p AS (SELECT doc_id, smp, "
    "LAG(smp) OVER (PARTITION BY doc_id ORDER BY j) AS prev FROM s), "
    "a AS (SELECT doc_id, CAST(SUM(smp * smp) AS BIGINT) AS sum_sq, "
    "CAST(SUM(CASE WHEN prev IS NOT NULL AND ((smp < 0) != (prev < 0)) "
    "THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings "
    "FROM p GROUP BY doc_id) "
    "SELECT 'a' || CAST(doc_id AS VARCHAR) AS audio_id, sum_sq, "
    "zero_crossings, "
    f"sqrt(sum_sq / {_AUDIO_N // 2}) / 32768.0 AS rms, "
    f"zero_crossings / {_AUDIO_N // 2 - 1} AS zcr FROM a"
)


_IMG_W = _IMG_H = 16  # multiples of 8 (the gate's 8x8 block hash)


def _synth_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16x16 RGB image per doc_id (pure-integer recurrence)
    as full image-table rows; even doc_ids go through the REAL PNG/zlib
    codec, odd ones raw."""
    from webindex_spark.operators import images as img_ops

    docs = _gate_docs(spark, sf_dir)
    w, h = _IMG_W, _IMG_H
    n = w * h * 3

    def synth(batches):
        import numpy as np
        import pandas as pd

        t = np.arange(n, dtype=np.int64)
        for pdf in batches:
            rows = {"image_id": [], "bytes": [], "fmt": []}
            for did in pdf["doc_id"].to_numpy():
                h0 = (int(did) * 1103515245 + 12345) % _M31
                v = (((h0 + t * 2654435761) % _M31) * 48271) % _M31 % 256
                px = v.astype(np.uint8).reshape(h, w, 3)
                fmt = "png" if did % 2 == 0 else "raw"
                rows["image_id"].append(f"i{did}")
                rows["bytes"].append(img_ops.encode(px, fmt))
                rows["fmt"].append(fmt)
            out = pd.DataFrame(rows)
            out["w"] = np.int32(w)
            out["h"] = np.int32(h)
            out["caption"] = ""
            yield out

    return docs.mapInPandas(
        synth,
        schema=(
            "image_id string, bytes binary, fmt string, w int, h int, "
            "caption string"
        ),
    )


def q_image_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row image-payload integrity under a full value-hash oracle —
    the north rule's decoded-pixel invariant on the driver's own
    tables: deterministic 16x16 RGB pixels are synthesized per doc_id
    by the same pure-integer recurrence family as audio_gate, encoded
    through the REAL codec (PNG/zlib for even doc_ids — exercising
    png_encode/png_decode inside the oracle-verified path — raw for
    odd), then decoded and reduced THROUGH the production mapInPandas
    plumbing (operators/images.gate_features) to integer-exact channel
    sums, gray1000 sums, and the integer 8x8 average hash.  DuckDB
    recomputes everything from the raw pixel integers."""
    from webindex_spark.operators import images as img_ops

    return img_ops.gate_features(_synth_images(spark, sf_dir)).select(
        "image_id", "pix_sum", "gray_sum", "iphash"
    )


def _sql_image_gate() -> str:
    w, h, n = _IMG_W, _IMG_H, _IMG_W * _IMG_H * 3
    return (
        f"WITH v AS (SELECT doc_id, t, "
        f"((((doc_id * 1103515245 + 12345) % {_M31} + t * 2654435761) % {_M31}) "
        f"* 48271) % {_M31} % 256 AS v "
        f"FROM documents, range(0, {n}) r(t)), "
        "px AS (SELECT doc_id, t // 3 AS p, "
        "SUM(CASE t % 3 WHEN 0 THEN 299 * v WHEN 1 THEN 587 * v "
        "ELSE 114 * v END) AS gray, SUM(v) AS cs "
        "FROM v GROUP BY doc_id, t // 3), "
        f"blocks AS (SELECT doc_id, "
        f"((p // {w}) * 8 // {h}) * 8 + ((p % {w}) * 8 // {w}) AS k, "
        "SUM(gray) AS bsum, SUM(cs) AS csum FROM px GROUP BY 1, 2), "
        "agg AS (SELECT doc_id, CAST(SUM(csum) AS BIGINT) AS pix_sum, "
        "CAST(SUM(bsum) AS BIGINT) AS gray_sum FROM blocks GROUP BY doc_id), "
        "bits AS (SELECT b.doc_id, b.k, CASE WHEN 64 * b.bsum >= a.gray_sum "
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit "
        "FROM blocks b JOIN agg a USING (doc_id)), "
        "hl AS (SELECT doc_id, "
        "CAST(SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - k)) "
        "ELSE 0 END) AS BIGINT) AS hi, "
        "CAST(SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - k)) "
        "ELSE 0 END) AS BIGINT) AS lo FROM bits GROUP BY doc_id) "
        "SELECT 'i' || CAST(a.doc_id AS VARCHAR) AS image_id, a.pix_sum, "
        "a.gray_sum, (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 "
        "ELSE 0 END) * 4294967296 + lo AS iphash "
        "FROM hl JOIN agg a USING (doc_id)"
    )


SQL_IMAGE_GATE = _sql_image_gate()


def q_feature_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3's descriptor stage under the value-hash oracle: the PRODUCTION
    31-dim feature kernel (operators/images.image_features — the real
    decode + feature_kernel inside mapInPandas, PNG/zlib in-loop for
    even doc_ids) runs on the synthesized image table, and the gate
    certifies the lanes whose IEEE arithmetic both engines can replay
    bit-for-bit: the 3 channel means (exact integer channel sum / 2^8 —
    exact in f64 — then ONE f64 division by 255 and ONE f32 rounding)
    and the 24 histogram lanes (integer count / 2^8 — exact at every
    step, so the f32 values ARE the counts).  std/entropy lanes involve
    pairwise-summed squared deviations and log2 — not cross-engine
    replayable at bit level; they stay covered by the retrieval tests.
    DuckDB recomputes every lane from the raw pixel-integer recurrence."""
    from webindex_spark.operators import images as img_ops

    emb = img_ops.image_features(_synth_images(spark, sf_dir))
    e = F.col("embedding")
    cols = [
        F.element_at(e, c + 1).cast("double").alias(f"mean_{c}")
        for c in range(3)
    ] + [
        F.element_at(e, 7 + c * 8 + b).cast("double").alias(f"hist_{c}_{b}")
        for c in range(3)
        for b in range(8)
    ]
    return emb.select("image_id", *cols)


def _sql_feature_gate() -> str:
    n = _IMG_W * _IMG_H * 3
    lanes = ", ".join(
        # mean_c: (sum_c / 256) exact, / 255 single-rounded, f32-cast —
        # the identical op sequence numpy runs (mean = pairwise sum of
        # exact integers / 2^8, then /255.0, then astype(float32))
        f"CAST(CAST(SUM(CASE WHEN c = {c} THEN v END) / 256.0 / 255.0 "
        f"AS REAL) AS DOUBLE) AS mean_{c}"
        for c in range(3)
    ) + ", " + ", ".join(
        f"CAST(CAST(SUM(CASE WHEN c = {c} AND v // 32 = {b} THEN 1 ELSE 0 END) "
        f"/ 256.0 AS REAL) AS DOUBLE) AS hist_{c}_{b}"
        for c in range(3)
        for b in range(8)
    )
    return (
        f"WITH v AS (SELECT doc_id, t % 3 AS c, "
        f"((((doc_id * 1103515245 + 12345) % {_M31} + t * 2654435761) % {_M31}) "
        f"* 48271) % {_M31} % 256 AS v "
        f"FROM documents, range(0, {n}) r(t)) "
        f"SELECT 'i' || CAST(doc_id AS VARCHAR) AS image_id, {lanes} "
        "FROM v GROUP BY doc_id"
    )


SQL_FEATURE_GATE = _sql_feature_gate()


def _synth_images_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image clusters for the phash dedup gate: every
    group of 4 doc_ids shares ONE base 16x16 recurrence image (seeded
    by ``doc_id - doc_id % 4`` with a QUADRATIC mix term — an affine
    seed makes every group a circular shift of the same underlying
    sequence and aliases unrelated groups onto identical phashes; the
    ``base²`` term breaks the constant step) and each member inverts a single,
    member-distinct pixel (pixel ``37 + (doc_id % 4) * 29``, all three
    channels) — so intra-group pairs differ in exactly two pixels and
    land Hamming-close under the 8x8 average hash, while inter-group
    pairs are unrelated 64-bit values.  Even doc_ids still round-trip
    the REAL PNG/zlib codec, odd ones raw, same as ``_synth_images``."""
    from webindex_spark.operators import images as img_ops

    docs = _gate_docs(spark, sf_dir)
    w, h = _IMG_W, _IMG_H
    n = w * h * 3

    def synth(batches):
        import numpy as np
        import pandas as pd

        t = np.arange(n, dtype=np.int64)
        for pdf in batches:
            rows = {"image_id": [], "bytes": [], "fmt": []}
            for did in pdf["doc_id"].to_numpy():
                base = int(did) - int(did) % 4
                h0 = (base * base % _P31 * 48271
                      + base * 1103515245 + 12345) % _P31
                # square the progression term: (h0 + t*c) mod p is
                # LINEAR in t, and "linear then mod 256" is a
                # quasi-periodic pattern whose 8x8 average hash collapses
                # onto a few attractor values across seeds — y**2 breaks
                # the linearity so inter-group phashes are independent
                # (modulus must be the PRIME _P31, see its definition)
                y = (h0 + t * 2654435761) % _P31
                v = (y * y % _P31 * 48271) % _P31 % 256
                p = 37 + (int(did) % 4) * 29
                v[p * 3:(p + 1) * 3] = 255 - v[p * 3:(p + 1) * 3]
                px = v.astype(np.uint8).reshape(h, w, 3)
                fmt = "png" if did % 2 == 0 else "raw"
                rows["image_id"].append(f"i{did}")
                rows["bytes"].append(img_ops.encode(px, fmt))
                rows["fmt"].append(fmt)
            out = pd.DataFrame(rows)
            out["w"] = np.int32(w)
            out["h"] = np.int32(h)
            out["caption"] = ""
            yield out

    return docs.mapInPandas(
        synth,
        schema=(
            "image_id string, bytes binary, fmt string, w int, h int, "
            "caption string"
        ),
    )


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3's near-duplicate-image lane end-to-end under the value-hash
    oracle: the grouped synth table goes through the REAL codec decode
    (PNG/zlib for even doc_ids) and the production integer 8x8
    average-hash kernel (operators/images.gate_features), and the
    resulting signed-64-bit ``iphash`` column feeds the PRODUCTION
    ``images.phash_near_dups`` — the guarded block-trick join
    (dedup.simhash_near_pairs with the hot-bucket cap) — so the whole
    multimodal dedup composition (decode → hash → bucketed candidate
    join → bit_count verify) is value-certified, not just
    retrieval-tested.  DuckDB replays every stage from the raw pixel
    integers."""
    from webindex_spark.operators import images as img_ops

    sig = img_ops.gate_features(_synth_images_grouped(spark, sf_dir))
    out = img_ops.phash_near_dups(
        sig.select("image_id", "iphash"), max_hamming=7, blocks=8,
        id_col="image_id", phash_col="iphash", max_bucket=200,
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _sql_phash_near_dup(max_hamming: int = 7, blocks: int = 8,
                        max_bucket: int = 200) -> str:
    """DuckDB twin: recompute the grouped pixels (base recurrence + the
    member-distinct inverted pixel), the gray/block sums and the
    two-32-bit-halves signed iphash exactly as ``_sql_image_gate``,
    then replay the guarded block join — 8-bit chunk extraction via
    ``(ph >> 8k) & 255`` (mask-equal across arithmetic/logical shift
    because the kept bits sit below 64 - shift), the windowed
    hot-bucket COUNT guard, the per-chunk candidate join on the STRING
    ids (both engines compare ASCII codepoints), and bit_count(xor)."""
    w, h, n = _IMG_W, _IMG_H, _IMG_W * _IMG_H * 3
    width = 64 // blocks
    return (
        "WITH b AS (SELECT doc_id, doc_id - doc_id % 4 AS g FROM documents), "
        f"y AS (SELECT doc_id, t, "
        f"((g * g % {_P31} * 48271 + g * 1103515245 + 12345) % {_P31} "
        f"+ t * 2654435761) % {_P31} AS y "
        f"FROM b, range(0, {n}) r(t)), "
        f"v0 AS (SELECT doc_id, t, "
        f"(y * y % {_P31} * 48271) % {_P31} % 256 AS vb FROM y), "
        "v AS (SELECT doc_id, t, CASE WHEN t // 3 = 37 + (doc_id % 4) * 29 "
        "THEN 255 - vb ELSE vb END AS v FROM v0), "
        "px AS (SELECT doc_id, t // 3 AS p, "
        "SUM(CASE t % 3 WHEN 0 THEN 299 * v WHEN 1 THEN 587 * v "
        "ELSE 114 * v END) AS gray FROM v GROUP BY doc_id, t // 3), "
        f"blocks AS (SELECT doc_id, "
        f"((p // {w}) * 8 // {h}) * 8 + ((p % {w}) * 8 // {w}) AS k, "
        "SUM(gray) AS bsum FROM px GROUP BY 1, 2), "
        "agg AS (SELECT doc_id, CAST(SUM(bsum) AS BIGINT) AS gray_sum "
        "FROM blocks GROUP BY doc_id), "
        "bits AS (SELECT b.doc_id, b.k, CASE WHEN 64 * b.bsum >= a.gray_sum "
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit "
        "FROM blocks b JOIN agg a USING (doc_id)), "
        "hl AS (SELECT doc_id, "
        "CAST(SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - k)) "
        "ELSE 0 END) AS BIGINT) AS hi, "
        "CAST(SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - k)) "
        "ELSE 0 END) AS BIGINT) AS lo FROM bits GROUP BY doc_id), "
        "sig AS (SELECT 'i' || CAST(doc_id AS VARCHAR) AS id, "
        "(hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END) "
        "* 4294967296 + lo AS ph FROM hl), "
        f"chunks0 AS (SELECT id, ph, b.blk AS blk, "
        f"(ph >> (b.blk * {width})) & {(1 << width) - 1} AS chunk "
        f"FROM sig, (SELECT unnest(range({blocks})) AS blk) b), "
        "chunks AS (SELECT id, ph, blk, chunk FROM ("
        "SELECT *, COUNT(*) OVER (PARTITION BY blk, chunk) AS bn "
        f"FROM chunks0) WHERE bn <= {max_bucket}), "
        "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, "
        "a.ph AS ha, b.ph AS hb FROM chunks a "
        "JOIN chunks b ON a.blk = b.blk AND a.chunk = b.chunk "
        "AND a.id < b.id) "
        f"SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) "
        f"AS hamming FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}"
    )


SQL_PHASH_NEAR_DUP = _sql_phash_near_dup()


def q_resize_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bilinear resizer inside the value-hash gate: the 16x16 clips
    run through the PRODUCTION ``resize_images`` (decode -> bilinear
    kernel -> PNG re-encode) at exactly 2:1, where half-pixel-center
    sampling puts every tap at fx = fy = 0.5 — each output channel is
    round_half_to_even((p00+p01+p10+p11)/4), an exact integer function
    of the four source ints that DuckDB reproduces with a v4%4 CASE
    (banker's rounding emulated on the .5 residue).  The resized 8x8
    image then feeds the same pixel-hash kernel (blocks degenerate to
    single pixels)."""
    from webindex_spark.operators import images as img_ops

    resized = img_ops.resize_images(
        _synth_images(spark, sf_dir), _IMG_W // 2, _IMG_H // 2,
        method="bilinear", out_fmt="png",
    )
    return img_ops.gate_features(resized).select(
        "image_id", "pix_sum", "gray_sum", "iphash"
    )


def _sql_resize_gate() -> str:
    w, h, n = _IMG_W, _IMG_H, _IMG_W * _IMG_H * 3
    ow = w // 2
    return (
        f"WITH v AS (SELECT doc_id, t, "
        f"((((doc_id * 1103515245 + 12345) % {_M31} + t * 2654435761) % {_M31}) "
        f"* 48271) % {_M31} % 256 AS v "
        f"FROM documents, range(0, {n}) r(t)), "
        # 2x2 source taps -> one output pixel per channel; banker's
        # rounding on the exact .5 residue (np.rint parity)
        f"q AS (SELECT doc_id, "
        f"(((t // 3) // {w}) // 2) * {ow} + (((t // 3) % {w}) // 2) AS op, "
        "t % 3 AS c, SUM(v) AS v4 FROM v GROUP BY 1, 2, 3), "
        "rp AS (SELECT doc_id, op, c, v4 // 4 + CASE WHEN v4 % 4 = 3 THEN 1 "
        "WHEN v4 % 4 = 2 AND (v4 // 4) % 2 = 1 THEN 1 ELSE 0 END AS rv "
        "FROM q), "
        "px AS (SELECT doc_id, op, "
        "SUM(CASE c WHEN 0 THEN 299 * rv WHEN 1 THEN 587 * rv "
        "ELSE 114 * rv END) AS gray, SUM(rv) AS cs "
        "FROM rp GROUP BY doc_id, op), "
        "agg AS (SELECT doc_id, CAST(SUM(cs) AS BIGINT) AS pix_sum, "
        "CAST(SUM(gray) AS BIGINT) AS gray_sum FROM px GROUP BY doc_id), "
        # 8x8 output: each hash block IS one pixel (k = op, row-major)
        "bits AS (SELECT p.doc_id, p.op AS k, "
        "CASE WHEN 64 * p.gray >= a.gray_sum THEN CAST(1 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS bit "
        "FROM px p JOIN agg a USING (doc_id)), "
        "hl AS (SELECT doc_id, "
        "CAST(SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - k)) "
        "ELSE 0 END) AS BIGINT) AS hi, "
        "CAST(SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - k)) "
        "ELSE 0 END) AS BIGINT) AS lo FROM bits GROUP BY doc_id) "
        "SELECT 'i' || CAST(a.doc_id AS VARCHAR) AS image_id, a.pix_sum, "
        "a.gray_sum, (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 "
        "ELSE 0 END) * 4294967296 + lo AS iphash "
        "FROM hl JOIN agg a USING (doc_id)"
    )


SQL_RESIZE_GATE = _sql_resize_gate()


_VID_FRAMES, _VID_EVERY = 8, 3  # sampled frame indices: 0, 3, 6


def q_video_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video lane end-to-end under the oracle: a deterministic
    8-frame 16x16 rawv clip per doc_id (same integer-recurrence family
    as image_gate, different seed), run through the PRODUCTION
    ``sample_frames`` operator (frame extraction + PNG re-encode, one
    row per sampled index 0/3/6) and then the same ``gate_features``
    pixel-hash kernel — so frame slicing, the PNG/zlib transcode, AND
    the decode path are all inside the value-hash-verified pipeline.
    DuckDB recomputes per sampled frame from the raw pixel integers."""
    from webindex_spark.operators import images as img_ops

    docs = _gate_docs(spark, sf_dir)
    w, h = _IMG_W, _IMG_H
    frame_n = w * h * 3

    def synth(batches):
        import numpy as np
        import pandas as pd

        u = np.arange(_VID_FRAMES * frame_n, dtype=np.int64)
        for pdf in batches:
            rows = {"video_id": [], "bytes": []}
            for did in pdf["doc_id"].to_numpy():
                h0 = (int(did) * 2862933555 + 777) % _M31
                v = (((h0 + u * 2654435761) % _M31) * 48271) % _M31 % 256
                rows["video_id"].append(f"v{did}")
                rows["bytes"].append(v.astype(np.uint8).tobytes())
            out = pd.DataFrame(rows)
            out["w"] = np.int32(w)
            out["h"] = np.int32(h)
            out["n_frames"] = np.int32(_VID_FRAMES)
            out["fmt"] = "rawv"
            yield out

    videos = docs.mapInPandas(
        synth,
        schema=(
            "video_id string, bytes binary, w int, h int, "
            "n_frames int, fmt string"
        ),
    )
    frames = img_ops.sample_frames(videos, every=_VID_EVERY, out_fmt="png")
    gate_in = frames.select(
        F.concat_ws(
            ":", "video_id", F.col("frame_idx").cast("string")
        ).alias("image_id"),
        "bytes", "w", "h", "fmt",
    )
    return img_ops.gate_features(gate_in).select(
        "image_id", "pix_sum", "gray_sum", "iphash"
    )


def _sql_video_gate() -> str:
    w, h, frame_n = _IMG_W, _IMG_H, _IMG_W * _IMG_H * 3
    return (
        f"WITH v AS (SELECT doc_id, fi, t, "
        f"((((doc_id * 2862933555 + 777) % {_M31} "
        f"+ (fi * {frame_n} + t) * 2654435761) % {_M31}) "
        f"* 48271) % {_M31} % 256 AS v "
        f"FROM documents, range(0, {_VID_FRAMES}) f(fi), "
        f"range(0, {frame_n}) r(t) WHERE fi % {_VID_EVERY} = 0), "
        "px AS (SELECT doc_id, fi, t // 3 AS p, "
        "SUM(CASE t % 3 WHEN 0 THEN 299 * v WHEN 1 THEN 587 * v "
        "ELSE 114 * v END) AS gray, SUM(v) AS cs "
        "FROM v GROUP BY doc_id, fi, t // 3), "
        f"blocks AS (SELECT doc_id, fi, "
        f"((p // {w}) * 8 // {h}) * 8 + ((p % {w}) * 8 // {w}) AS k, "
        "SUM(gray) AS bsum, SUM(cs) AS csum FROM px GROUP BY 1, 2, 3), "
        "agg AS (SELECT doc_id, fi, CAST(SUM(csum) AS BIGINT) AS pix_sum, "
        "CAST(SUM(bsum) AS BIGINT) AS gray_sum FROM blocks GROUP BY 1, 2), "
        "bits AS (SELECT b.doc_id, b.fi, b.k, "
        "CASE WHEN 64 * b.bsum >= a.gray_sum THEN CAST(1 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS bit "
        "FROM blocks b JOIN agg a USING (doc_id, fi)), "
        "hl AS (SELECT doc_id, fi, "
        "CAST(SUM(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << (31 - k)) "
        "ELSE 0 END) AS BIGINT) AS hi, "
        "CAST(SUM(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (63 - k)) "
        "ELSE 0 END) AS BIGINT) AS lo FROM bits GROUP BY 1, 2) "
        "SELECT 'v' || CAST(a.doc_id AS VARCHAR) || ':' || "
        "CAST(a.fi AS VARCHAR) AS image_id, a.pix_sum, a.gray_sum, "
        "(hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END) "
        "* 4294967296 + lo AS iphash "
        "FROM hl JOIN agg a USING (doc_id, fi)"
    )


SQL_VIDEO_GATE = _sql_video_gate()


# Per-host robots.txt template families for the REP gate (t = host_k % 4).
# Together they exercise: exact-agent vs * group selection, an ignored
# foreign-agent group, longest-match precedence, Allow-wins-length-ties,
# mid-pattern '*' wildcards, '$' end anchors, per-group crawl-delay and
# the default delay.
_ROBOTS_TEMPLATES = [
    "User-agent: *\nDisallow: /private/\nAllow: /private/p\n"
    "Disallow: /private/*\nCrawl-delay: 2\n",
    "User-agent: *\nDisallow: /e/\nAllow: /e/1*\nDisallow: *.png$\n",
    "User-agent: other\nDisallow: /\n\n"
    "User-agent: *\nDisallow: /img/*9\nCrawl-delay: 1.5\n",
    "User-agent: webindex\nAllow: /e/\nDisallow: /\nCrawl-delay: 0.5\n\n"
    "User-agent: *\nDisallow: /docs/\n",
]


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL RFC 9309 matcher under a value-hash oracle: literal
    robots.txt bodies (the template families above) run through the
    production parser (``parse_robots_txt`` mapInPandas — group
    selection, rule extraction, delays) and the production JVM matcher
    (``apply_robots_rules`` — regexp_like filter + array_max
    longest-match/Allow-ties precedence) over five path shapes derived
    from the events table.  The DuckDB twin replays the templates'
    EFFECTIVE rule lists as literals (the knn_lsh plane-replay pattern)
    with LIKE-pattern matching and a window for precedence."""
    from webindex_spark.operators import robots as robots_ops

    ev = _t(spark, sf_dir, "events")
    cand = ev.select(
        F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("uri"),
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
        F.concat(
            F.element_at(
                F.array(
                    F.lit("/e/"), F.lit("/img/"), F.lit("/private/p"),
                    F.lit("/private/q"), F.lit("/docs/d"),
                ),
                (F.col("event_id") % 5).cast("int") + 1,
            ),
            F.col("event_id").cast("string"),
            F.when(F.col("event_id") % 5 == 1, F.lit(".png")).otherwise(F.lit("")),
        ).alias("path"),
    )
    bodies = spark.createDataFrame(
        [(f"h{k}", _ROBOTS_TEMPLATES[k % 4]) for k in range(20)],
        "host string, robots_txt string",
    )
    parsed = robots_ops.parse_robots_txt(bodies, agent="webindex")
    out = robots_ops.apply_robots_rules(cand, parsed)
    return out.select(
        "uri", "host", "allowed", F.col("crawl_delay").cast("double").alias("crawl_delay")
    )


SQL_ROBOTS_GATE = (
    "WITH cand AS (SELECT 'e' || CAST(event_id AS VARCHAR) AS uri, "
    "'h' || CAST(user_id % 20 AS VARCHAR) AS host, "
    "CAST((user_id % 20) % 4 AS INT) AS t, "
    "CASE CAST(event_id % 5 AS INT) "
    "WHEN 0 THEN '/e/' || CAST(event_id AS VARCHAR) "
    "WHEN 1 THEN '/img/' || CAST(event_id AS VARCHAR) || '.png' "
    "WHEN 2 THEN '/private/p' || CAST(event_id AS VARCHAR) "
    "WHEN 3 THEN '/private/q' || CAST(event_id AS VARCHAR) "
    "ELSE '/docs/d' || CAST(event_id AS VARCHAR) END AS path FROM events), "
    # effective per-template rules: (t, pattern_len, allow, LIKE body,
    # anchored).  plen counts the raw pattern chars incl. '*' and '$'.
    "rules(t, plen, allow, pat, anchored) AS (VALUES "
    "(0,  9, FALSE, '/private/', FALSE), "
    "(0, 10, TRUE,  '/private/p', FALSE), "
    "(0, 10, FALSE, '/private/%', FALSE), "
    "(1,  3, FALSE, '/e/', FALSE), "
    "(1,  5, TRUE,  '/e/1%', FALSE), "
    "(1,  6, FALSE, '%.png', TRUE), "
    "(2,  7, FALSE, '/img/%9', FALSE), "
    "(3,  3, TRUE,  '/e/', FALSE), "
    "(3,  1, FALSE, '/', FALSE)), "
    "m AS (SELECT c.uri, r.plen, r.allow FROM cand c JOIN rules r "
    "ON r.t = c.t AND (CASE WHEN r.anchored THEN c.path LIKE r.pat "
    "ELSE c.path LIKE r.pat || '%' END)), "
    "best AS (SELECT uri, allow, ROW_NUMBER() OVER (PARTITION BY uri "
    "ORDER BY plen DESC, allow DESC) AS rn FROM m) "
    "SELECT c.uri, c.host, COALESCE(b.allow, TRUE) AS allowed, "
    "CAST(CASE c.t WHEN 0 THEN 2.0 WHEN 1 THEN 1.0 WHEN 2 THEN 1.5 "
    "ELSE 0.5 END AS DOUBLE) AS crawl_delay "
    "FROM cand c LEFT JOIN (SELECT uri, allow FROM best WHERE rn = 1) b "
    "USING (uri)"
)


def q_rank_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/F9 rank-key parity under the oracle: the production
    ``delta._uri_rows`` generator (the exact t:/d:/p: rows the
    incremental engine exports, IndexClient.genUriData semantics) over
    the production uri_counts, with the reverse-lexicoder sort key
    (``rev_encode``) recomputed in SQL byte-for-byte — the escape +
    complement + terminator algebra expressed as hex CASE arms for the
    1- and 2-byte bodies (links_to ≤ 65535 here; the python golden
    vectors cover the full 8-byte range)."""
    from webindex_spark.operators import delta as delta_ops

    # three consumers (the t/d/p union branches): materialize the counts
    # once instead of re-running the uri_counts aggregation per branch
    uc = uri_counts_df(spark, sf_dir).localCheckpoint(eager=False)
    return delta_ops._uri_rows(uc, "links_to", "docs")


def _sql_rev_encode(col: str) -> str:
    def eb(x: str) -> str:
        return (
            f"(CASE WHEN {x} = 0 THEN 'fefe' WHEN {x} = 1 THEN 'fefd' "
            f"ELSE printf('%02x', 255 - {x}) END)"
        )

    return (
        f"(CASE WHEN {col} = 0 THEN 'fefeff' "
        f"WHEN {col} <= 255 THEN 'fefd' || {eb(col)} || 'ff' "
        f"ELSE 'fd' || {eb(f'({col} // 256)')} || {eb(f'({col} % 256)')} "
        "|| 'ff' END)"
    )


def _sql_rank_rows() -> str:
    enc = _sql_rev_encode("links_to")
    return (
        f"WITH uc AS ({_SQL_URI_COUNTS}), "
        f"nz AS (SELECT uri, links_to, {enc} AS enc, "
        "split_part(uri, '>', 1) AS rev_domain FROM uc "
        "WHERE links_to != 0 OR docs != 0) "
        "SELECT 't:' || enc || ':' || uri AS row, '' AS cf, '' AS cq, "
        "CAST(links_to AS VARCHAR) AS v FROM nz "
        "UNION ALL SELECT 'd:' || rev_domain || ':' || enc || ':' || uri, "
        "'rank', '', CAST(links_to AS VARCHAR) FROM nz "
        "UNION ALL SELECT 'p:' || uri, 'page', 'incount', "
        "CAST(links_to AS VARCHAR) FROM nz"
    )


SQL_RANK_ROWS = _sql_rank_rows()


def q_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 incremental combine as a batch merge: a 'state' snapshot (orders
    before the median date) FULL OUTER JOIN a 'delta' batch (the rest),
    summing the UriInfo-like counters with ZERO identities — the Spark
    restatement of UriCombineQ (UriCombineQ.java:59-81)."""
    orders = _t(spark, sf_dir, "orders")
    cut = "1995-01-01"
    base = orders.select(
        _src_uri_col().alias("uri"),
        F.when(F.col("o_orderdate") < F.lit(cut), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("old"),
        F.when(F.col("o_orderdate") >= F.lit(cut), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("new"),
    )
    state = base.groupBy("uri").agg(F.sum("old").alias("docs")).where(F.col("docs") > 0)
    delta = base.groupBy("uri").agg(F.sum("new").alias("d_docs")).where(F.col("d_docs") > 0)
    merged = state.join(delta, "uri", "full_outer").select(
        "uri",
        (F.coalesce(F.col("docs"), F.lit(0)) + F.coalesce(F.col("d_docs"), F.lit(0)))
        .cast("long")
        .alias("docs"),
    )
    return merged.where(F.col("docs") != 0)


SQL_DELTA_MERGE = (
    "WITH base AS (SELECT 'com.h' || CAST(o_custkey % 50 AS VARCHAR) || '>>o>/o/' || "
    "CAST(o_orderkey AS VARCHAR) AS uri, "
    "CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END AS old, "
    "CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END AS new FROM orders), "
    "state AS (SELECT uri, CAST(SUM(old) AS BIGINT) AS docs FROM base GROUP BY uri HAVING SUM(old) > 0), "
    "delta AS (SELECT uri, CAST(SUM(new) AS BIGINT) AS d_docs FROM base GROUP BY uri HAVING SUM(new) > 0) "
    "SELECT COALESCE(state.uri, delta.uri) AS uri, "
    "CAST(COALESCE(docs, 0) + COALESCE(d_docs, 0) AS BIGINT) AS docs "
    "FROM state FULL OUTER JOIN delta ON state.uri = delta.uri "
    "WHERE COALESCE(docs, 0) + COALESCE(d_docs, 0) != 0"
)


def _stream_batches(q) -> int:
    """Micro-batch count of a terminated streaming query (benchmarks
    read this off the gate's returned frame as ``_wix_batches`` to
    report scheduler fixed cost alongside wall time)."""
    p = q.lastProgress
    return int(p["batchId"]) + 1 if p else 0


@contextmanager
def _stream_conf(spark: SparkSession):
    """Plan the streaming replay gates at a reduced shuffle/state
    parallelism (guide §2.2 applied to micro-batches): every stateful
    operator commits one state-store delta file per PARTITION per
    micro-batch regardless of data volume, so a replay whose whole
    state is a few thousand keys pays O(partitions × stores × batches)
    of pure scheduler/commit fixed cost.  The partition count is pinned
    at the query's FIRST start via spark.sql.shuffle.partitions, so it
    is a planning decision, not a data-size one.  Fixed at 4: an
    8/6/4-level ABAB sweep over all five gates measured 4 fastest —
    means 34.9/32.0/29.3 s, the replay state is a few thousand keys so
    commit count dominates (BENCH/stream_partitions_sweep_r07.json).
    Exact results are partitioning-independent (integer sums, per-key
    session merges, per-key dedup)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def q_stream_uri_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/T8 end-to-end under the oracle: the Structured Streaming twin
    (streaming/page_stream.py — file source -> foreachBatch -> the
    incremental delta engine -> merge-mode snapshot commits) run as a
    bounded THREE-micro-batch replay over Gson page JSON derived from
    the orders/lineitem link graph, returning the final reconciled
    uri_counts state.  The invariant certified is the streaming twin's
    whole contract: after any micro-batch sequence the streamed state
    equals the from-scratch batch build over all pages — which is
    exactly what the oracle SQL computes (the batch UriInfo monoid over
    the same subset of the graph).  Orders are subsetted (orderkey%10=0)
    to keep the gate's fixed per-micro-batch cost bounded; the batch
    split (orderkey%3) only shapes the commit chain, never the final
    state."""
    import os
    import shutil
    import tempfile

    from webindex_spark.sources.snapshots import Catalog
    from webindex_spark.streaming.page_stream import start_page_stream

    root = tempfile.mkdtemp(prefix="wix-stream-gate-")
    try:
        input_dir = os.path.join(root, "in")
        os.makedirs(input_dir)
        orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
        lineitem = _t(spark, sf_dir, "lineitem")
        keys = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .select("o_custkey", "o_orderkey", "l_partkey")
            .dropDuplicates(["o_orderkey", "l_partkey"])
        )
        links = keys.select(
            "o_orderkey",
            F.struct(
                F.concat(F.lit("http://"), _dst_uri_col()).alias("url"),
                _dst_uri_col().alias("uri"),
                F.lit("").alias("anchorText"),
            ).alias("l"),
        ).groupBy("o_orderkey").agg(F.collect_list("l").alias("outboundLinks"))
        link_t = "array<struct<url:string,uri:string,anchorText:string>>"
        pages = orders.join(links, "o_orderkey", "left").select(
            F.concat(F.lit("http://"), _src_uri_col()).alias("url"),
            _src_uri_col().alias("uri"),
            F.lit("page").alias("title"),
            F.coalesce("outboundLinks", F.array().cast(link_t)).alias("outboundLinks"),
            F.pmod(F.col("o_orderkey"), F.lit(3)).alias("__b"),
        )
        # ONE write job for all three batch files: partitionBy splits the
        # staged pages into __b=N subdirs (vs 3× recomputing the
        # orders⋈lineitem join), repartition(1, __b) leaves one file per
        # batch to rename into the stream's input dir
        outd = os.path.join(root, "w")
        pages.repartition(3, "__b").write.partitionBy("__b").mode(
            "overwrite"
        ).json(outd)
        for b in range(3):
            bdir = os.path.join(outd, f"__b={b}")
            parts = sorted(f for f in os.listdir(bdir) if f.startswith("part-"))
            for i, part in enumerate(parts):
                os.replace(
                    os.path.join(bdir, part),
                    os.path.join(input_dir, f"batch-{b}-{i}.json"),
                )
        cat = Catalog(os.path.join(root, "cat"))
        with _stream_conf(spark):
            q = start_page_stream(
                spark, input_dir, cat, os.path.join(root, "ckpt"),
                available_now=True, max_files_per_trigger=1,
            )
            q.awaitTermination()
        # pin the result off the temp dir so it can be reclaimed before
        # the caller materializes the frame
        out = (
            cat.table("uri_counts")
            .read(spark)
            .select("uri", "links_to", "docs")
            .localCheckpoint(eager=True)
        )
        out._wix_batches = _stream_batches(q)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_STREAM_PAGES = (
    "SELECT 'com.h' || CAST(o_custkey % 50 AS VARCHAR) || '>>o>/o/' || "
    "CAST(o_orderkey AS VARCHAR) AS uri FROM orders WHERE o_orderkey % 10 = 0"
)
_SQL_STREAM_EDGES = (
    "SELECT DISTINCT "
    "'com.h' || CAST(o_custkey % 50 AS VARCHAR) || '>>o>/o/' || CAST(o_orderkey AS VARCHAR) AS src_uri, "
    "'com.p' || CAST(l_partkey % 100 AS VARCHAR) || '>>o>/p/' || CAST(l_partkey AS VARCHAR) AS dst_uri "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_orderkey % 10 = 0"
)
SQL_STREAM_URI_COUNTS = (
    "SELECT uri, CAST(SUM(links_to) AS BIGINT) AS links_to, "
    "CAST(SUM(docs) AS BIGINT) AS docs FROM ("
    f"SELECT uri, 0 AS links_to, 1 AS docs FROM ({_SQL_STREAM_PAGES}) "
    f"UNION ALL SELECT dst_uri AS uri, 1 AS links_to, 0 AS docs FROM ({_SQL_STREAM_EDGES})"
    ") u GROUP BY uri"
)


def q_stream_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 (watermarked, windowed event-time aggregation) under the
    oracle: the PRODUCTION ``streaming.event_stream.windowed_rollup``
    runs as a real Structured Streaming query — file source split into
    four ts-contiguous micro-batch files (``repartitionByRange`` keeps
    every batch's event times at or above the previous batch's, so the
    watermark only ever finalizes, never drops), ``withWatermark("2
    hours")`` + 1-hour tumbling windows, append-mode memory sink,
    ``availableNow`` trigger.  Append mode emits exactly the windows the
    final watermark (max event time - 2h, advanced by the trailing
    no-data micro-batch) has passed — a deterministic, SQL-replayable
    predicate — and each emitted (window, type) row must carry counts
    and sums accumulated across every micro-batch that touched it.
    ``windowed_rollup`` itself accumulates ``value`` as integer
    thousandths (the event_rollup trick) so cross-batch partial-sum
    merge order cannot perturb the float sum — the gate feeds the raw
    double column."""
    import os
    import shutil
    import tempfile
    import time

    from webindex_spark.streaming.event_stream import windowed_rollup

    root = tempfile.mkdtemp(prefix="wix-evstream-gate-")
    name = "wix_stream_event_rollup"
    try:
        # watermarks require TIMESTAMP (tz-aware); the parquet ts is NTZ.
        # With the session tz pinned to UTC the cast is wall-clock
        # preserving, and window_start is cast back to NTZ on output so
        # the oracle compares naive timestamps on both sides.
        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        outd = os.path.join(root, "w")
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(outd)
        input_dir = os.path.join(root, "in")
        os.makedirs(input_dir)
        # range partition N holds the N-th ts range; rename in part order
        # with increasing mtimes so the file source replays them in
        # event-time order (one file per micro-batch)
        parts = sorted(
            f for f in os.listdir(outd)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        now = time.time()
        for i, part in enumerate(parts):
            dst = os.path.join(input_dir, f"batch-{i}.parquet")
            os.replace(os.path.join(outd, part), dst)
            os.utime(dst, (now + i, now + i))
        with _stream_conf(spark):
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(input_dir)
            )
            q = (
                windowed_rollup(stream, window="1 hour", watermark="2 hours")
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = (
            spark.table(name)
            .select(
                F.col("window_start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "n_events", "sum_value",
            )
            .localCheckpoint(eager=True)
        )
        out._wix_batches = _stream_batches(q)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_STREAM_EVENT_ROLLUP = (
    # the final watermark = max(ts) - 2h; append mode has emitted exactly
    # the windows whose end it passed, each with full cross-batch totals
    "WITH mx AS (SELECT max(ts) AS m FROM events) "
    "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, "
    "CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS DOUBLE) / 1000.0 "
    "AS sum_value "
    "FROM events, mx "
    "GROUP BY 1, 2, mx.m "
    "HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR "
    "<= m - INTERVAL 2 HOUR"
)


# ------------------------------------------------------------------ TPC-H-ish


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide aggregate with partial (map-side) combine.

    Money columns are summed in exact integer cents (prices/discounts/taxes
    have 2 decimals) so the result is bit-identical regardless of partition
    merge order — double summation order differs between Spark partitions
    and the sequential DuckDB oracle, and the driver hashes raw values.
    """
    li = _t(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    tax_c = F.round(F.col("l_tax") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_c)) / 10000.0).alias("sum_disc_price"),
            (F.sum(price_c * (100 - disc_c) * (100 + tax_c)) / 1000000.0).alias("sum_charge"),
            (F.sum(qty) / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price_c) / 100.0 / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(disc_c) / 100.0 / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / CAST(100 AS DOUBLE) AS sum_base_price, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / CAST(10000 AS DOUBLE) AS sum_disc_price, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS sum_charge, "
    "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / CAST(100 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price, "
    "CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE) / CAST(100 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc, "
    "CAST(COUNT(*) AS BIGINT) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus"
)


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective join + agg + top-k; the customer dim side
    is broadcast (explicitly hinted — at 100 TB the fact side never
    shuffles for a dim this small)."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(F.broadcast(cust.join(orders, cust.c_custkey == orders.o_custkey)
                .select("o_orderkey", "o_orderdate")),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg((F.sum(rev_c) / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_SQL_REV_CENTS = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
)

SQL_TOP_REVENUE_ORDERS = (
    f"SELECT o_orderkey, CAST(SUM({_SQL_REV_CENTS}) AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"
)


def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join over broadcastable dims + rollup."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dims = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "n_name", "r_name")
    )
    rev_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum(rev_c) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_NATION_VOLUME = (
    f"SELECT r_name, n_name, "
    f"CAST(SUM({_SQL_REV_CENTS}) AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue, "
    "CAST(COUNT(*) AS BIGINT) AS n_items "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY r_name, n_name"
)


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streams-table rollup: per event_type per day counts + value sums
    (the batch analog of a windowed streaming agg)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type"), F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # integer-scaled sum: bit-identical across partition merge orders
        (F.sum(F.round(F.col("value") * 1000).cast("long")) / 1000.0).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


SQL_EVENT_ROLLUP = (
    "SELECT event_type, date_trunc('day', ts) AS day, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, "
    "CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS DOUBLE) / CAST(1000 AS DOUBLE) AS sum_value, "
    "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM events GROUP BY 1, 2"
)


# ------------------------------------------------------- training-data ops


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents: content-hash groups with representative
    selection (min doc_id) — the hash-groupBy tier of the dedup stack."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


SQL_DEDUP_EXACT = (
    "SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_copies FROM documents GROUP BY 1"
)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + char stats per document (whitespace tokenizer)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        (F.length("text") / F.size(toks)).cast("double").alias("chars_per_token"),
    )


SQL_TOKEN_STATS = (
    "SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens, "
    "CAST(length(text) AS BIGINT) AS n_chars_actual, "
    "CAST(length(text) / len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS chars_per_token "
    "FROM documents"
)


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token counts (textstats.bpe_token_stats): the
    regex pre-tokenizer count a training-data sizing pass needs alongside
    the whitespace count.  Pure regexp_extract_all, JVM-side."""
    from webindex_spark.operators import textstats

    out = textstats.bpe_token_stats(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_bpe_tokens", "n_ws_tokens",
        F.round("bpe_per_word", 6).alias("bpe_per_word"),
    )


SQL_BPE_TOKENS = (
    # the same ordered-alternation pattern (textstats.BPE_REGEX); RE2 and
    # Java regex agree on it by construction (explicit whitespace class,
    # no \s, ordered alternation in both engines)
    "WITH c AS (SELECT doc_id, "
    "len(regexp_extract_all(text, '''[A-Za-z]{1,2}| ?[A-Za-z]+| ?[0-9]{1,3}"
    "| ?[^A-Za-z0-9 \\t\\n\\r'']+|[ \\t\\n\\r]+')) AS nb, "
    "len(regexp_split_to_array(trim(text), '\\s+')) AS nw FROM documents) "
    "SELECT doc_id, CAST(nb AS BIGINT) AS n_bpe_tokens, "
    "CAST(nw AS BIGINT) AS n_ws_tokens, "
    "ROUND(CAST(nb AS DOUBLE) / nw, 6) AS bpe_per_word FROM c"
)


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality heuristics: alpha ratio, digit ratio, mean word length —
    the deterministic core of a quality-filter stage."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(text, "[^0-9]", ""))
    spaces = F.length(F.regexp_replace(text, "[^ ]", ""))
    return docs.select(
        "doc_id",
        (alpha / n).cast("double").alias("alpha_ratio"),
        (digits / n).cast("double").alias("digit_ratio"),
        ((n - spaces) / (spaces + 1)).cast("double").alias("mean_word_len"),
    )


SQL_QUALITY_SCORE = (
    "SELECT doc_id, "
    "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio, "
    "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio, "
    "CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / "
    "(length(regexp_replace(text, '[^ ]', '', 'g')) + 1) AS mean_word_len "
    "FROM documents"
)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language scoring: fraction of tokens in a small
    English stopword list (deterministic n-gram-free heuristic)."""
    docs = _t(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in ["the", "and", "of", "to", "a", "in", "is", "it"]])
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    hits = F.size(F.array_intersect(F.array_distinct(toks), stop))
    return docs.select(
        "doc_id",
        "lang",
        hits.cast("long").alias("stopword_kinds"),
        (hits >= 3).alias("looks_english"),
    )


SQL_LANG_ID = (
    "SELECT doc_id, lang, CAST(len(list_intersect(list_distinct("
    "regexp_split_to_array(lower(trim(text)), '\\s+')), "
    "['the','and','of','to','a','in','is','it'])) AS BIGINT) AS stopword_kinds, "
    "len(list_intersect(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')), "
    "['the','and','of','to','a','in','is','it'])) >= 3 AS looks_english "
    "FROM documents"
)


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of the min-id vector, computed
    with higher-order functions (zip_with + aggregate) — fully JVM-side,
    no UDF.  The scale path (LSH-bucketed) lives in operators.simsearch."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    j = emb.crossJoin(F.broadcast(qvec)).where(F.col("vec_id") != F.col("q_id"))
    dot = F.aggregate(
        F.zip_with("embedding", "q_emb", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norm_b = F.sqrt(
        F.aggregate(
            F.transform("q_emb", lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        j.select(
            "vec_id",
            F.round(dot / (norm_a * norm_b), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


SQL_KNN_COSINE = (
    "WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings ORDER BY vec_id LIMIT 1) "
    "SELECT vec_id, ROUND(list_dot_product("
    "list_transform(embedding, x -> CAST(x AS DOUBLE)), "
    "list_transform(q_emb, x -> CAST(x AS DOUBLE))) / "
    "(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)))) * "
    "sqrt(list_dot_product(list_transform(q_emb, x -> CAST(x AS DOUBLE)), "
    "list_transform(q_emb, x -> CAST(x AS DOUBLE))))), 6) AS cosine "
    "FROM embeddings, q WHERE vec_id != q_id "
    "ORDER BY cosine DESC, vec_id ASC LIMIT 10"
)


from webindex_spark.functions import portable_hash as ph


def _sql_gram_hashes(
    n: int, with_pos: bool = False, src: str = "documents", prelude: str = ""
) -> str:
    """CTEs ``t``/``th``/``gr`` yielding each document's composed n-gram
    hashes: every token hashed ONCE (phash62), gram hash composed from
    the n token hashes — the DuckDB twin of
    ``textstats.exploded_ngram_hashes(..., phash62, compose62)``,
    bit-exact including the clamped short-document gram (slice clamp ==
    Spark's null-skipped leads) and empty-token filtering.  ``src``
    names the (doc_id, text) relation; ``prelude`` injects CTEs ahead
    of ``t`` (e.g. a synthesized corpus for ``src``)."""
    head = (
        f"WITH {prelude + ', ' if prelude else ''}t AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"tk -> length(tk) > 0) AS toks FROM {src}), "
        f"th AS (SELECT doc_id, list_transform(toks, tk -> {ph.sql_phash62('tk')}) AS ths FROM t), "
    )
    rng = f"range(1, greatest(len(ths) - {n - 1}, 1) + 1)"
    comp = ph.sql_compose62_slice(f"ths[i:i+{n - 1}]")
    if with_pos:
        return head + (
            f"gr0 AS (SELECT doc_id AS id, unnest(list_transform({rng}, "
            f"i -> {{'pos': i - 1, 'gh': {comp}}})) AS pg FROM th WHERE len(ths) > 0), "
            "gr AS (SELECT id, pg.pos AS pos, pg.gh AS gh FROM gr0)"
        )
    return head + (
        f"gr AS (SELECT doc_id AS id, unnest(list_transform({rng}, i -> {comp})) AS gh "
        "FROM th WHERE len(ths) > 0)"
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True word-3-gram Jaccard between consecutive documents — the exact
    verifier of the dedup stack, oracle-checkable because the pair set is
    defined relationally (doc_id, doc_id+1) instead of via LSH buckets."""
    from webindex_spark.operators.textstats import exploded_ngram_hashes

    docs = _docs(spark, sf_dir)
    # |A∩B| via an exploded distinct-gram-HASH join: tokens hashed once,
    # gram keys composed (8-byte longs instead of gram strings in the
    # shuffle and join — see exploded_ngram_hashes), one hash join keyed
    # by (doc, gh) — linear and shuffle-parallel.  62-bit keys make a
    # collision perturbing a Jaccard count negligible, and the DuckDB
    # twin composes the identical keys.
    # ONE corpus-sized shuffle (the collect_set groupBy); the distinct,
    # the exploded self-join, and the size aggregate of the previous plan
    # all collapse into JVM array ops over the per-doc gram-set arrays
    # (array_intersect over ~160-element long arrays per pair).  Two
    # consumers (both join sides) -> eager checkpoint of the ~16-byte/gram
    # sets instead of re-running tokenize/hash/compose.
    sets = (
        exploded_ngram_hashes(docs, "doc_id", "text", 3, ph.phash62, ph.compose62)
        .groupBy(F.col("id"))
        .agg(F.collect_set("gh").alias("ghs"))
        .localCheckpoint(eager=False)
    )
    pair = sets.join(
        sets.select(
            (F.col("id") - 1).alias("id"),
            F.col("id").alias("id_b"),
            F.col("ghs").alias("ghs_b"),
        ),
        "id",
    )
    ni = F.size(F.array_intersect(F.col("ghs"), F.col("ghs_b"))).cast("long")
    return pair.select(
        F.col("id").alias("id_a"),
        "id_b",
        (ni / (F.size("ghs") + F.size("ghs_b") - ni))
        .cast("double").alias("jaccard"),
    )


def _sql_ngram_jaccard() -> str:
    from webindex_spark.functions import portable_hash as ph  # noqa: F401

    return (
        f"{_sql_gram_hashes(3)}, "
        "g AS (SELECT DISTINCT id AS doc_id, gh FROM gr), "
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, COUNT(*) AS n_inter FROM g a "
        "JOIN g b ON b.doc_id = a.doc_id + 1 AND b.gh = a.gh GROUP BY a.doc_id) "
        "SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, "
        "CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / "
        "(sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS jaccard "
        "FROM sizes sa JOIN sizes sb ON sb.doc_id = sa.doc_id + 1 "
        "LEFT JOIN inter i ON i.id_a = sa.doc_id"
    )


SQL_NGRAM_JACCARD = _sql_ngram_jaccard()


def q_part_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join shapes: parts that ship vs parts that never ship."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    shipped = part.join(li, "p_partkey", "left_semi").select(
        "p_partkey", F.lit(True).alias("shipped")
    )
    never = part.join(li, "p_partkey", "left_anti").select(
        "p_partkey", F.lit(False).alias("shipped")
    )
    return shipped.unionByName(never)


SQL_PART_SEMI_JOIN = (
    "SELECT p_partkey, TRUE AS shipped FROM part "
    "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey) "
    "UNION ALL "
    "SELECT p_partkey, FALSE AS shipped FROM part "
    "WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)"
)


def q_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation over (status, priority) with grouping flags."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.col("n_orders"),
        )
    )


SQL_ORDER_ROLLUP = (
    "SELECT COALESCE(o_orderstatus, 'ALL') AS status, "
    "COALESCE(o_orderpriority, 'ALL') AS priority, "
    "CAST(COUNT(*) AS BIGINT) AS n_orders "
    "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"
)


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend — analytic window with a deterministic
    frame (ordered by date, orderkey; exact integer cents)."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        (F.sum(cents).over(w) / 100.0).alias("running_spend"),
    )


SQL_RUNNING_TOTAL = (
    "SELECT o_custkey, o_orderkey, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER ("
    "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "
    "/ CAST(100 AS DOUBLE) AS running_spend FROM orders"
)


def q_supplier_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate: distinct shipping suppliers + parts per nation."""
    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count_distinct("l_suppkey").alias("n_suppliers"),
            F.count_distinct("l_partkey").alias("n_parts"),
        )
    )


SQL_SUPPLIER_DISTINCT = (
    "SELECT n_name, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers, "
    "CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name"
)


# --------------------- dedup/ANN pipelines under the engine-portable hash
#
# The production operators hash with xxhash64 (tests/ lock that path
# against python oracles).  The gate queries run the SAME operator code
# parametrized with the portable polynomial hash
# (functions/portable_hash.py), which DuckDB can recompute bit-exactly —
# so minhash banding + bucket guards, simhash lane-packed aggregation,
# winnowing windows, and LSH re-ranking are all certified end-to-end by
# the driver's value-hash compare instead of a weak rows-only check.

def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webindex_spark.operators import dedup

    docs = _docs(spark, sf_dir)
    return dedup.minhash_dedup(
        docs, threshold=0.5,
        token_hash_fn=ph.phash62, compose_fn=ph.compose62, bucket_fn=ph.fold31,
    )


def _sql_minhash_pairs(k: int = 32, bands: int = 8, max_bucket: int = 50,
                       threshold: float = 0.5) -> str:
    from webindex_spark.operators.dedup import _P, _mix_consts

    r = k // bands
    mins = ", ".join(
        f"MIN(({(a % ph.M31) | 1} * (h % {ph.M31}) + {b % _P}) % {_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_mix_consts(k))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        f"{ph.sql_fold31([f'mh_{b * r + j}' for j in range(r)])} AS bucket FROM sig"
        for b in range(bands)
    )
    return (
        f"{_sql_gram_hashes(3)}, "
        "sh AS (SELECT DISTINCT id, gh AS h FROM gr), "
        f"sig AS (SELECT id, {mins} FROM sh GROUP BY id), "
        f"bands AS ({band_rows}), "
        "bounded AS (SELECT id, band, bucket FROM (SELECT id, band, bucket, "
        f"COUNT(*) OVER (PARTITION BY band, bucket) AS nb FROM bands) g WHERE nb <= {max_bucket}), "
        "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM bounded a "
        "JOIN bounded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id), "
        "sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id), "
        "inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS ni FROM cand c "
        "JOIN sh x ON x.id = c.id_a JOIN sh y ON y.id = c.id_b AND y.h = x.h "
        "GROUP BY c.id_a, c.id_b) "
        "SELECT i.id_a, i.id_b, CAST(i.ni AS DOUBLE) / (sa.sz + sb.sz - i.ni) AS jaccard "
        "FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b "
        f"WHERE CAST(i.ni AS DOUBLE) / (sa.sz + sb.sz - i.ni) >= {threshold}"
    )


SQL_MINHASH_PAIRS = _sql_minhash_pairs()


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERING over the whole corpus: the minhash near-dup
    pairs (same production plan as ``minhash_pairs``) become edges of
    an undirected graph; large-star/small-star connected components
    (operators/components.py, Kiveris et al. SoCC'14 — O(log n)
    rounds regardless of component diameter, two linear shuffles per
    round, driver sees only a 2-scalar convergence probe) label every
    document with its component's minimum doc id.  Output is the
    keep-one-canonical dedup verdict: (doc_id, cluster, cluster_size),
    singletons included.  The oracle replays the transitive closure as
    a DuckDB recursive CTE over the identical SQL-computed pair set."""
    from webindex_spark.operators import dedup
    from webindex_spark.operators.components import dup_clusters

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup(
        docs, threshold=0.5,
        token_hash_fn=ph.phash62, compose_fn=ph.compose62, bucket_fn=ph.fold31,
    )
    return dup_clusters(docs, pairs)


SQL_DUP_CLUSTERS = (
    "WITH RECURSIVE pairs AS (" + _sql_minhash_pairs() + "), "
    "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
    "UNION SELECT id_b AS a, id_a AS b FROM pairs), "
    # reach(id, lbl): lbl can reach id through the symmetric edge set;
    # min(lbl) per id = the component minimum (components from LSH
    # banding are small, so the closure stays tiny at oracle scale)
    "reach(id, lbl) AS ("
    "SELECT doc_id, doc_id FROM documents "
    "UNION "
    "SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id), "
    "cc AS (SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id), "
    "sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size "
    "FROM cc GROUP BY cluster) "
    "SELECT cc.doc_id, cc.cluster, sz.cluster_size FROM cc JOIN sz USING (cluster)"
)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webindex_spark.operators import dedup

    out = dedup.simhash(
        _docs(spark, sf_dir), hash_fn=ph.phash62, nbits=62
    )
    return out.select(F.col("id").alias("doc_id"), "simhash")


def _sql_simhash(nbits: int = 62, max_tokens: int = 32767) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(nbits)
    )
    pack = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(nbits)
    )
    return (
        # mirror dedup.simhash exactly: drop empty tokens FIRST, then cap
        # to the first max_tokens via a (clamped) slice — a >=32767-token
        # document hashes the same token multiset in both engines
        "WITH tk AS (SELECT doc_id, unnest((list_filter("
        "regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"tk -> length(tk) > 0))[1:{max_tokens}]) AS tok FROM documents), "
        f"h AS (SELECT doc_id, {ph.sql_phash62('tok')} AS h FROM tk), "
        f"s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id) "
        f"SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM s"
    )


SQL_SIMHASH = _sql_simhash()


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-close simhash pairs via the block trick (dedup.py:
    simhash_near_pairs): any pair within max_hamming=3 shares at least
    one of 4 exact 16-bit chunks, so candidates come from per-chunk
    equi-joins — bucketed, never all-pairs — then the full distance is
    verified with bit_count(xor)."""
    from webindex_spark.operators import dedup

    sig = dedup.simhash(_docs(spark, sf_dir), hash_fn=ph.phash62, nbits=62)
    out = dedup.simhash_near_pairs(sig, max_hamming=3, blocks=4, max_bucket=200)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _sql_simhash_near_pairs(max_hamming: int = 3, blocks: int = 4,
                            nbits: int = 62, max_bucket: int = 200) -> str:
    """DuckDB replays the identical block-trick join over the portable
    62-bit signatures: chunk extraction, the hot-bucket guard (drop
    (blk, chunk) buckets larger than ``max_bucket`` whole — a windowed
    COUNT, value-certifying the guard semantics, dedup.py
    simhash_near_pairs), per-chunk candidate join, and bit_count(xor)
    verification — the whole pipeline value-certified."""
    width = 64 // blocks
    return (
        f"WITH sig AS ({_sql_simhash(nbits)}), "
        f"chunks0 AS (SELECT doc_id, simhash, b.blk AS blk, "
        f"(simhash >> (b.blk * {width})) & {(1 << width) - 1} AS chunk "
        f"FROM sig, (SELECT unnest(range({blocks})) AS blk) b), "
        "chunks AS (SELECT doc_id, simhash, blk, chunk FROM ("
        "SELECT *, COUNT(*) OVER (PARTITION BY blk, chunk) AS bn FROM chunks0) "
        f"WHERE bn <= {max_bucket}), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "a.simhash AS ha, b.simhash AS hb FROM chunks a "
        "JOIN chunks b ON a.blk = b.blk AND a.chunk = b.chunk AND a.doc_id < b.doc_id) "
        f"SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming "
        f"FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}"
    )


SQL_SIMHASH_NEAR_PAIRS = _sql_simhash_near_pairs()


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints as exploded scalar (doc_id, fingerprint)
    rows — the round-1 array<bigint> shape crashed the driver's
    canonicalizer (pandas sort over list cells)."""
    from webindex_spark.operators import textstats

    return textstats.fingerprint_rows(
        _docs(spark, sf_dir), token_hash_fn=ph.phash62, compose_fn=ph.compose62
    )


def _sql_fingerprints(k: int = 5, window: int = 4) -> str:
    return (
        f"{_sql_gram_hashes(k, with_pos=True)}, "
        "ghn AS (SELECT id AS doc_id, pos, gh, "
        "COUNT(*) OVER (PARTITION BY id) AS n FROM gr), "
        "mins AS (SELECT doc_id, pos, n, MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS m FROM ghn) "
        f"SELECT DISTINCT doc_id, m AS fingerprint FROM mins WHERE pos <= n - {window} OR pos = 0"
    )


SQL_FINGERPRINTS = _sql_fingerprints()


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webindex_spark.operators import simsearch

    emb = _t(spark, sf_dir, "embeddings")
    queries = (
        emb.orderBy("vec_id").limit(4)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )
    # n_planes=8 (256 buckets/table) keeps buckets populated at sf0.01's
    # 500 vectors so the gate exercises real candidate joins + re-ranking
    out = simsearch.lsh_topk(emb, queries, dim=64, k=5, n_planes=8)
    return out.select(
        "q_id", "vec_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_arr(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _sql_knn_lsh(dim: int = 64, n_planes: int = 8, tables: int = 3, k: int = 5) -> str:
    """The hyperplanes are deterministic (seeded numpy) so they embed as
    SQL literals: DuckDB recomputes each table's sign-bit signature with
    list_dot_product, replays the bucket joins, and re-ranks by the exact
    cosine — certifying the whole ANN path, not just the re-rank."""
    from webindex_spark.operators.simsearch import _planes

    sig_cols = []
    for t in range(tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_sql_arr(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(_planes(dim, n_planes, t))
        )
        sig_cols.append(f"CAST({bits} AS BIGINT) AS b{t}")
    cand_union = " UNION ALL ".join(
        f"SELECT q.vec_id AS q_id, s.vec_id AS vec_id, s.v AS v, q.v AS qv "
        f"FROM sig s JOIN q ON s.b{t} = q.b{t} AND s.vec_id <> q.vec_id"
        for t in range(tables)
    )
    cos = (
        "list_dot_product(v, qv) / "
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))"
    )
    return (
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
        f"sig AS (SELECT vec_id, v, {', '.join(sig_cols)} FROM e), "
        "q AS (SELECT * FROM sig ORDER BY vec_id LIMIT 4), "
        f"cand AS (SELECT DISTINCT q_id, vec_id, v, qv FROM ({cand_union}) u), "
        f"scored AS (SELECT q_id, vec_id, {cos} AS c FROM cand), "
        "ranked AS (SELECT q_id, vec_id, c, ROW_NUMBER() OVER (PARTITION BY q_id "
        "ORDER BY c DESC, vec_id ASC) AS rank FROM scored) "
        f"SELECT q_id, vec_id, ROUND(c, 6) AS cosine, CAST(rank AS BIGINT) AS rank "
        f"FROM ranked WHERE rank <= {k}"
    )


SQL_KNN_LSH = _sql_knn_lsh()


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: coarse-quantizer cell assignment (one Arrow matmul
    pass), queries probe their 4 nearest of 16 cells, exact HOF cosine
    re-ranks inside probed cells only.  The inverted-file counterpart of
    knn_lsh; at scale the corpus partitions by cell at rest."""
    from webindex_spark.operators import simsearch

    emb = _t(spark, sf_dir, "embeddings")
    queries = (
        emb.orderBy("vec_id").limit(4)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )
    out = simsearch.ivf_topk(emb, queries, dim=64, k=5, n_cells=16, n_probe=4)
    return out.select(
        "q_id", "vec_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_knn_ivf(dim: int = 64, n_cells: int = 16, n_probe: int = 4,
                 k: int = 5) -> str:
    """DuckDB replays the SAME seeded unit centroids as SQL literals:
    per-cell dots via UNION ALL, ROW_NUMBER picks the corpus argmax cell
    (rn=1) and each query's n_probe nearest cells, the cell join builds
    candidates, and the exact cosine re-ranks — certifying assignment,
    probing, and re-rank end to end."""
    from webindex_spark.operators.simsearch import ivf_centroids

    cents = ivf_centroids(dim, n_cells)

    def dots(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT vec_id, v, {c} AS cell, "
            f"list_dot_product(v, {_sql_arr(cents[c])}) AS d FROM {src}"
            for c in range(n_cells)
        )

    cos = (
        "list_dot_product(v, qv) / "
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))"
    )
    return (
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
        f"du AS ({dots('e')}), "
        "cr AS (SELECT vec_id, v, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn FROM du), "
        "ca AS (SELECT vec_id, v, cell FROM cr WHERE rn = 1), "
        "q AS (SELECT * FROM e ORDER BY vec_id LIMIT 4), "
        f"qdu AS ({dots('q')}), "
        "qr AS (SELECT vec_id, v, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn FROM qdu), "
        f"qp AS (SELECT vec_id AS q_id, v AS qv, cell FROM qr WHERE rn <= {n_probe}), "
        "cand AS (SELECT qp.q_id, ca.vec_id, ca.v, qp.qv FROM ca JOIN qp "
        "ON ca.cell = qp.cell AND ca.vec_id <> qp.q_id), "
        f"scored AS (SELECT q_id, vec_id, {cos} AS c FROM cand), "
        "ranked AS (SELECT q_id, vec_id, c, ROW_NUMBER() OVER (PARTITION BY q_id "
        "ORDER BY c DESC, vec_id ASC) AS rank FROM scored) "
        f"SELECT q_id, vec_id, ROUND(c, 6) AS cosine, CAST(rank AS BIGINT) AS rank "
        f"FROM ranked WHERE rank <= {k}"
    )


SQL_KNN_IVF = _sql_knn_ivf()


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets (the dedup-stack
    entry the training brief names).  threshold=0.4 is where this
    synthetic corpus has real neighbor structure (max pairwise cosine is
    ~0.51); the operator is threshold-parametric."""
    from webindex_spark.operators import simsearch

    out = simsearch.near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), dim=64, threshold=0.4,
        n_planes=6, tables=3,
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _sql_emb_near_dup(dim: int = 64, n_planes: int = 6, tables: int = 3,
                      threshold: float = 0.4) -> str:
    """DuckDB replays the SAME hyperplane buckets (seeded plane literals),
    self-joins per table, and re-verifies the exact cosine — certifying
    bucket generation + candidate join + verification end to end."""
    from webindex_spark.operators.simsearch import _planes

    sig_cols = []
    for t in range(tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_sql_arr(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(_planes(dim, n_planes, t))
        )
        sig_cols.append(f"CAST({bits} AS BIGINT) AS b{t}")
    cand_union = " UNION ALL ".join(
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb "
        f"FROM sig a JOIN sig b ON a.b{t} = b.b{t} AND a.vec_id < b.vec_id"
        for t in range(tables)
    )
    cos = (
        "list_dot_product(va, vb) / "
        "(sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))"
    )
    return (
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
        f"sig AS (SELECT vec_id, v, {', '.join(sig_cols)} FROM e), "
        f"cand AS (SELECT DISTINCT id_a, id_b, va, vb FROM ({cand_union}) u), "
        f"scored AS (SELECT id_a, id_b, {cos} AS c FROM cand) "
        f"SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM scored WHERE c >= {threshold}"
    )


SQL_EMB_NEAR_DUP = _sql_emb_near_dup()


# ---------------------------------------------------------------------------

# --------------------------------------------------------- curation lane


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test contamination sweep: every 20th document plays the
    benchmark/eval set; the rest is the training corpus.  Both sides run
    the production winnowing pipeline (textstats.fingerprint_rows under
    the portable hash) and corpus docs sharing any fingerprint with a
    benchmark doc are flagged with the shared count.  The benchmark
    fingerprint table is broadcast — the corpus side never shuffles for
    the join (operators/curation.decontaminate).  k=3 grams here (the
    operator's default is 5): the synthetic corpus is short word soup,
    and 3-grams give a dense overlap set (~330 pairs at sf0.01) so the
    gate certifies the join/count path over real volume."""
    from webindex_spark.operators.curation import decontaminate

    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return decontaminate(
        corpus, bench, k=3, min_shared=1,
        token_hash_fn=ph.phash62, compose_fn=ph.compose62,
    )


SQL_DECONTAMINATE = (
    "WITH fps AS (" + _sql_fingerprints(k=3) + "), "
    "c AS (SELECT doc_id, fingerprint FROM fps WHERE doc_id % 20 <> 0), "
    "b AS (SELECT doc_id AS bench_id, fingerprint FROM fps WHERE doc_id % 20 = 0) "
    "SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS shared_fp "
    "FROM c JOIN b USING (fingerprint) GROUP BY c.doc_id, b.bench_id"
)


def _laced_text_spark() -> F.Column:
    """Deterministically lace each document with one email, one IPv4 and
    one SSN-shaped span derived from doc_id (the corpus itself is
    PII-free word soup, so the scrub gate would otherwise count zeros);
    the SQL twin builds the identical string."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), s(d), F.lit("@example.com from "),
        s(F.pmod(d, F.lit(250)) + 1), F.lit("."),
        s(F.pmod(d * 7, F.lit(250)) + 1), F.lit(".0."),
        s(F.pmod(d, F.lit(9)) + 1),
        F.lit(" ssn "), F.lpad(s(F.pmod(d, F.lit(1000))), 3, "0"),
        F.lit("-42-"), F.lpad(s(F.pmod(d * 13, F.lit(10000))), 4, "0"),
    )


_SQL_LACED = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from '"
    " || CAST(doc_id % 250 + 1 AS VARCHAR) || '.'"
    " || CAST(doc_id * 7 % 250 + 1 AS VARCHAR) || '.0.'"
    " || CAST(doc_id % 9 + 1 AS VARCHAR)"
    " || ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-42-' || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the laced corpus: counts and scrubbed text via
    the production sequential regexp pass (operators/curation.pii_scrub,
    map-only, JVM codegen).  The oracle replays the identical pattern
    sequence with RE2 — the patterns are written to be engine-portable
    (bounded quantifiers, no ordered-alternation ambiguity)."""
    from webindex_spark.operators.curation import pii_scrub

    docs = _docs(spark, sf_dir).select("doc_id", _laced_text_spark().alias("text"))
    return pii_scrub(docs)


def _sql_pii_scrub() -> str:
    from webindex_spark.operators.curation import PII_PATTERNS

    sql = f"WITH s0 AS (SELECT doc_id, {_SQL_LACED} AS t0 FROM documents)"
    carry: list[str] = []
    for i, (name, pat) in enumerate(PII_PATTERNS):
        prev, nxt = f"t{i}", f"t{i + 1}"
        keep = ", ".join(carry + [])
        keep = (keep + ", ") if keep else ""
        sql += (
            f", s{i + 1} AS (SELECT doc_id, {keep}"
            f"CAST(len(regexp_extract_all({prev}, '{pat}')) AS BIGINT) AS n_{name}, "
            f"regexp_replace({prev}, '{pat}', '<{name}>', 'g') AS {nxt} FROM s{i})"
        )
        carry.append(f"n_{name}")
    last = len(PII_PATTERNS)
    cols = ", ".join(f"n_{name}" for name, _ in PII_PATTERNS)
    return sql + f" SELECT doc_id, {cols}, t{last} AS scrubbed FROM s{last}"


SQL_PII_SCRUB = _sql_pii_scrub()


def q_strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mixture sampling: keep iff
    phash62(doc_id) mod 10000 clears the stratum's rate threshold
    (operators/curation.hash_stratified_sample — a pure filter, zero
    shuffle, reproducible across runs/engines; no rand())."""
    from webindex_spark.operators.curation import hash_stratified_sample

    return hash_stratified_sample(
        _docs(spark, sf_dir),
        rates={"en": 0.25, "de": 0.5, "es": 0.5, "fr": 0.75, "zh": 1.0},
    )


SQL_STRAT_SAMPLE = (
    "WITH s AS (SELECT doc_id, lang, "
    f"({ph.sql_phash62('CAST(doc_id AS VARCHAR)')}) % 10000 AS sample_key "
    "FROM documents) "
    "SELECT doc_id, lang, sample_key FROM s WHERE sample_key < "
    "CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 5000 WHEN 'es' THEN 5000 "
    "WHEN 'fr' THEN 7500 WHEN 'zh' THEN 10000 ELSE 0 END"
)


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: the corpus concatenated in
    doc_id order and cut into 512-token training sequences; each doc
    mapped to (seq_id, seq_offset, n_splits).  The global prefix sum
    runs through operators/curation.distributed_cumsum — range
    partitions + per-partition windows + broadcast offsets, never a
    single-task global window; the oracle replays the same grid with a
    plain SQL window (equivalent semantics at toy scale)."""
    from webindex_spark.operators.curation import seq_pack

    return seq_pack(_docs(spark, sf_dir), budget=512)


SQL_SEQ_PACK = (
    "WITH tok AS (SELECT doc_id, CAST(len(list_filter("
    "regexp_split_to_array(trim(text), '\\s+'), t -> length(t) > 0)) AS BIGINT) "
    "AS n_tokens FROM documents), "
    "cum AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY doc_id) AS c "
    "FROM tok) "
    "SELECT doc_id, n_tokens, "
    "CAST(floor((c - n_tokens) / 512.0) AS BIGINT) AS seq_id, "
    "CAST((c - n_tokens) % 512 AS BIGINT) AS seq_offset, "
    "CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE "
    "floor((c - 1) / 512.0) - floor((c - n_tokens) / 512.0) + 1 END AS BIGINT) "
    "AS n_splits FROM cum"
)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted keyword extraction: top-3 terms per document by
    tf-idf (textstats.tf_idf_top_terms — one corpus shuffle for tf, the
    vocab-sized df table broadcast back).  Ranking is by the
    IEEE-exact tf/df double with term tiebreak so row_number is
    deterministic in both engines; the reported tfidf uses smoothed
    ln((N+1)/(df+1)) rounded to 6 digits."""
    from webindex_spark.operators.textstats import tf_idf_top_terms

    return tf_idf_top_terms(_docs(spark, sf_dir), top_k=3)


SQL_TFIDF_TERMS = (
    "WITH t AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(trim(text)), '\\s+'), tk -> length(tk) > 0)) "
    "AS term FROM documents), "
    "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), "
    "df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
    "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
    "sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, "
    "CAST(tf.tf AS DOUBLE) / df.df AS score FROM tf JOIN df USING (term)), "
    "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
    "ORDER BY score DESC, term ASC) AS rank FROM sc) "
    "SELECT doc_id, term, tf, df, CAST(rank AS BIGINT) AS rank, "
    "round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf "
    "FROM rk, n WHERE rank <= 3"
)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators/pagerank.py) over the derived
    link graph — 5 iterations, damping 0.85, int64 ranks at 10^12
    scale.  Integer floor-division arithmetic makes every node's rank a
    pure integer function of the edge set, so the oracle unrolls the
    identical recurrence as 5 chained CTEs and matches bit-for-bit —
    including dangling-mass redistribution (the part pages have no
    outlinks)."""
    from webindex_spark.operators.pagerank import pagerank

    # iterate on long node ids, map back to uris once at the end: rank
    # is a pure function of graph structure, so the bijective id
    # encoding changes nothing but the bytes each iteration shuffles
    pr = pagerank(int_link_edges(spark, sf_dir), iterations=5)
    return int_id_to_uri(spark, sf_dir, pr).select(
        F.col("__uri").alias("uri"), "rank"
    )


def _sql_pagerank(iterations: int = 5, damping: int = 85, scale: int = 10**12) -> str:
    sql = (
        f"WITH edges AS ({_SQL_EDGES}), "
        "nodes AS (SELECT src_uri AS id FROM edges UNION SELECT dst_uri FROM edges), "
        "deg AS (SELECT src_uri AS id, CAST(COUNT(*) AS BIGINT) AS outdeg "
        "FROM edges GROUP BY 1), "
        "nn AS (SELECT COUNT(*) AS n FROM nodes), "
        f"r0 AS (SELECT id, CAST({scale} // n AS BIGINT) AS rank FROM nodes, nn)"
    )
    for k in range(1, iterations + 1):
        p = f"r{k - 1}"
        sql += (
            f", d{k} AS (SELECT COALESCE(SUM(rank), 0) AS dm FROM {p} "
            "WHERE id NOT IN (SELECT id FROM deg))"
            f", c{k} AS (SELECT e.dst_uri AS id, "
            f"SUM((p.rank * {damping}) // (deg.outdeg * 100)) AS c "
            f"FROM edges e JOIN {p} p ON p.id = e.src_uri "
            "JOIN deg ON deg.id = e.src_uri GROUP BY e.dst_uri)"
            f", r{k} AS (SELECT nodes.id, "
            f"CAST((({100 - damping} * {scale}) // (100 * nn.n)) "
            f"+ (({damping} * d{k}.dm) // (100 * nn.n)) "
            f"+ COALESCE(c{k}.c, 0) AS BIGINT) AS rank "
            f"FROM nodes CROSS JOIN nn CROSS JOIN d{k} "
            f"LEFT JOIN c{k} ON c{k}.id = nodes.id)"
        )
    return sql + f" SELECT id AS uri, rank FROM r{iterations}"


SQL_PAGERANK = _sql_pagerank()


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS hubs/authorities over the link graph
    (operators/hits.py): int64 fixed-point with granule L1
    normalization — each half-step is one linear shuffle of the score
    table plus one scalar aggregate (the pagerank discipline), so four
    iterations stay bit-exact and the DuckDB oracle unrolls the whole
    recurrence to the last unit."""
    from webindex_spark.operators.hits import hits

    # long-id iteration + one final uri mapping (the pagerank treatment:
    # hub/auth are structure-determined, the id encoding is bijective)
    out = hits(int_link_edges(spark, sf_dir), iterations=4)
    return int_id_to_uri(spark, sf_dir, out).select(
        F.col("__uri").alias("uri"), "hub", "auth"
    )


def _sql_hits(iterations: int = 4, scale: int = 10**9) -> str:
    # every CTE is MATERIALIZED: the recurrence references each vector
    # 2-3x, and DuckDB's default inlining re-evaluates the whole
    # sub-chain per reference — ~4^k edge scans by iteration k
    # (measured 72 s at sf0.001; materialized: sub-second)
    sql = (
        f"WITH edges AS MATERIALIZED ({_SQL_EDGES}), "
        "nodes AS (SELECT src_uri AS id FROM edges UNION SELECT dst_uri FROM edges), "
        "srcs AS MATERIALIZED (SELECT DISTINCT src_uri AS id FROM edges), "
        "ns AS (SELECT COUNT(*) AS n FROM srcs), "
        f"h0 AS MATERIALIZED (SELECT id, CAST({scale} // n AS BIGINT) AS h FROM srcs, ns)"
    )
    for k in range(1, iterations + 1):
        sql += (
            f", ar{k} AS MATERIALIZED (SELECT e.dst_uri AS id, SUM(p.h) AS raw "
            f"FROM edges e JOIN h{k - 1} p ON p.id = e.src_uri GROUP BY 1)"
            f", at{k} AS (SELECT GREATEST(1, COALESCE(SUM(raw), 0) // {scale}) AS g "
            f"FROM ar{k})"
            f", a{k} AS MATERIALIZED (SELECT id, CAST(raw // g AS BIGINT) AS a FROM ar{k}, at{k})"
            f", hr{k} AS MATERIALIZED (SELECT e.src_uri AS id, SUM(p.a) AS raw "
            f"FROM edges e JOIN a{k} p ON p.id = e.dst_uri GROUP BY 1)"
            f", ht{k} AS (SELECT GREATEST(1, COALESCE(SUM(raw), 0) // {scale}) AS g "
            f"FROM hr{k})"
            f", h{k} AS MATERIALIZED (SELECT id, CAST(raw // g AS BIGINT) AS h FROM hr{k}, ht{k})"
        )
    return sql + (
        f" SELECT nodes.id AS uri, COALESCE(h{iterations}.h, 0) AS hub, "
        f"COALESCE(a{iterations}.a, 0) AS auth FROM nodes "
        f"LEFT JOIN h{iterations} ON h{iterations}.id = nodes.id "
        f"LEFT JOIN a{iterations} ON a{iterations}.id = nodes.id"
    )


SQL_HITS = _sql_hits()


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream
    (operators/sessions.py): 30-minute inactivity gap, per-user lag +
    running-sum windows, integer-microsecond boundary decisions, and
    the exact integer-scaled value sum.  The batch twin of the
    streaming lane's session state."""
    from webindex_spark.operators.sessions import session_stats

    return session_stats(_t(spark, sf_dir, "events"))


SQL_SESSIONS = (
    "WITH lagd AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us, "
    "lag(epoch_us(ts)) OVER (PARTITION BY user_id "
    "ORDER BY epoch_us(ts), event_id) AS prev FROM events), "
    "flags AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 "
    "THEN 1 ELSE 0 END AS f FROM lagd), "
    "lab AS (SELECT *, SUM(f) OVER (PARTITION BY user_id "
    "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM flags) "
    "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, "
    "MIN(ts) AS first_ts, MAX(ts) AS last_ts, "
    "CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us, "
    "CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS DOUBLE) / "
    "CAST(1000 AS DOUBLE) AS total_value "
    "FROM lab GROUP BY 1, 2"
)


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 companion: Spark's NATIVE ``session_window`` (gap-merged,
    watermark-closed, state merged across micro-batches) as a real
    Structured Streaming query over the same 4-file ts-contiguous
    replay harness as ``stream_event_rollup`` — certified against the
    BATCH sessionization oracle (operators/sessions.py semantics:
    measured identical split rule, delta > gap) restricted to the
    sessions the final watermark closed.  Emitted sessions are a
    time-prefix per user, so renumbering them by first_ts reproduces
    the batch ``session_seq`` exactly.  ``value`` pre-scales to integer
    thousandths (the event_rollup idiom) so cross-batch merge order
    cannot perturb the float sum."""
    import os
    import shutil
    import tempfile
    import time

    from webindex_spark.streaming.event_stream import session_rollup

    root = tempfile.mkdtemp(prefix="wix-sessstream-gate-")
    name = "wix_stream_sessions"
    try:
        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id",
            F.round(F.col("value") * 1000).cast("long").alias("value"),
        )
        outd = os.path.join(root, "w")
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(outd)
        input_dir = os.path.join(root, "in")
        os.makedirs(input_dir)
        parts = sorted(
            f for f in os.listdir(outd)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        now = time.time()
        for i, part in enumerate(parts):
            dst = os.path.join(input_dir, f"batch-{i}.parquet")
            os.replace(os.path.join(outd, part), dst)
            os.utime(dst, (now + i, now + i))
        with _stream_conf(spark):
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(input_dir)
            )
            q = (
                session_rollup(stream, gap="30 minutes", watermark="2 hours")
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        w = Window.partitionBy("user_id").orderBy("first_ts")
        out = (
            spark.table(name)
            .withColumn("session_seq", F.row_number().over(w).cast("long"))
            .select(
                "user_id",
                "session_seq",
                "n_events",
                F.col("first_ts").cast("timestamp_ntz").alias("first_ts"),
                F.col("last_ts").cast("timestamp_ntz").alias("last_ts"),
                (
                    F.unix_micros("last_ts") - F.unix_micros("first_ts")
                ).cast("long").alias("duration_us"),
                (F.col("sum_value") / 1000.0).alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )
        out._wix_batches = _stream_batches(q)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_STREAM_SESSIONS = (
    # batch sessionization (identical split rule) cut to the sessions the
    # final watermark closed: wm = floor_ms(max ts) - 2h (Spark tracks
    # event time in ms), emitted iff session end (last_ts + gap) <= wm
    "WITH mx AS (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 7200000000 "
    "AS wm_us FROM events), "
    "lagd AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us, "
    "lag(epoch_us(ts)) OVER (PARTITION BY user_id "
    "ORDER BY epoch_us(ts), event_id) AS prev FROM events), "
    "flags AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 "
    "THEN 1 ELSE 0 END AS f FROM lagd), "
    "lab AS (SELECT *, SUM(f) OVER (PARTITION BY user_id "
    "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq "
    "FROM flags), "
    "sess AS (SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, "
    "MIN(ts) AS first_ts, MAX(ts) AS last_ts, "
    "CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us, "
    "CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS DOUBLE) / "
    "CAST(1000 AS DOUBLE) AS total_value "
    "FROM lab GROUP BY 1, 2) "
    "SELECT s.* FROM sess s, mx "
    "WHERE epoch_us(s.last_ts) + 1800000000 <= mx.wm_us"
)


def q_hll_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-URI estimate per source host over the link graph
    (operators/sketches.py) — the approximate twin of the reference's
    per-domain URI counting (UriCountExport), sized for the 10^10-URI
    regime where exact per-domain distinct sets no longer fit.  The
    exact count rides along so the gate certifies registers, harmonic
    sum, AND the estimate's single-division float path bit-for-bit."""
    from webindex_spark.operators.sketches import hll_distinct

    # both branches hang off the SAME distinct-pair exchange (HLL is
    # dup-invariant, so hashing distinct pairs is equivalent) — Spark's
    # ReuseExchange then computes the edge derivation once.  The dedup
    # itself runs on the integer pair (custkey%50 IS the host, partkey
    # IS the dst uri — both injective), and the strings the registers
    # hash are built only for the surviving rows: identical values,
    # ~4x fewer shuffled bytes (guide §2.3)
    d = (
        link_edge_keys(spark, sf_dir)
        .select(
            (F.col("o_custkey") % 50).alias("hk"),
            F.col("l_partkey").alias("pk"),
        )
        .distinct()
        .select(
            F.concat(F.lit("com.h"), F.col("hk").cast("string")).alias("host"),
            F.concat(
                F.lit("com.p"),
                (F.col("pk") % 100).cast("string"),
                F.lit(">>o>/p/"),
                F.col("pk").cast("string"),
            ).alias("dst_uri"),
        )
    )
    est = hll_distinct(d, ["host"], "dst_uri")
    exact = d.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    return est.join(exact, "host")


def _sql_hll_hosts() -> str:
    from webindex_spark.operators.sketches import _hll_numerator

    rho = "CASE WHEN fb = 0 THEN 33 ELSE 33 - length(bin(fb)) END"
    scaled = "s_obs + (512 - used) * 8589934592"
    return (
        f"WITH e2 AS (SELECT DISTINCT split_part(src_uri, '>>', 1) AS host, "
        f"dst_uri FROM ({_SQL_EDGES}) e), "
        f"h AS (SELECT host, {ph.sql_phash31('dst_uri', 31)} AS a, "
        f"{ph.sql_phash31('dst_uri', 131)} AS b FROM e2), "
        f"f AS (SELECT host, {ph.sql_mix32('a')} AS fa, "
        f"{ph.sql_mix32('b')} AS fb FROM h), "
        f"r AS (SELECT host, fa % 512 AS bucket, MAX({rho}) AS r "
        "FROM f GROUP BY 1, 2), "
        "s AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS used, "
        "CAST(SUM(CAST(1 AS BIGINT) << (33 - r)) AS BIGINT) AS s_obs "
        "FROM r GROUP BY 1), "
        "x AS (SELECT host, CAST(COUNT(*) AS BIGINT) "
        "AS exact_distinct FROM e2 GROUP BY 1) "
        f"SELECT s.host, used, CAST({scaled} AS BIGINT) AS s_scaled, "
        f"{_hll_numerator()!r} / CAST({scaled} AS DOUBLE) AS est, "
        "exact_distinct FROM s JOIN x ON s.host = x.host"
    )


SQL_HLL_HOSTS = _sql_hll_hosts()


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy-hitter estimates over the event stream
    (operators/sketches.py): the 4x256 register grid built in one
    map-side-combined shuffle, then broadcast back for per-user point
    estimates next to the exact counts.  All-integer, so the oracle
    replays grid and estimates exactly."""
    from webindex_spark.operators.sketches import cms_estimate, cms_registers

    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    regs = cms_registers(ev, "user_id")
    est = cms_estimate(counts.select("user_id"), regs, "user_id")
    return counts.join(est, "user_id")


def _sql_cms_counts() -> str:
    from webindex_spark.operators.sketches import CMS_BASES, CMS_WIDTH

    hashed = " UNION ALL ".join(
        f"SELECT {r} AS r, "
        f"{ph.sql_phash31('CAST(user_id AS VARCHAR)', base)} % {CMS_WIDTH} AS c, "
        "CAST(1 AS BIGINT) AS w FROM events"
        for r, base in enumerate(CMS_BASES)
    )
    probes = " UNION ALL ".join(
        f"SELECT user_id, {r} AS r, "
        f"{ph.sql_phash31('CAST(user_id AS VARCHAR)', base)} % {CMS_WIDTH} AS c "
        "FROM k"
        for r, base in enumerate(CMS_BASES)
    )
    return (
        "WITH cnt AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n "
        "FROM events GROUP BY 1), "
        "k AS (SELECT user_id FROM cnt), "
        f"regs AS (SELECT r, c, CAST(SUM(w) AS BIGINT) AS reg FROM ({hashed}) "
        "u GROUP BY 1, 2), "
        f"est AS (SELECT user_id, CAST(MIN(reg) AS BIGINT) AS cms_n "
        f"FROM ({probes}) p JOIN regs USING (r, c) GROUP BY 1) "
        "SELECT cnt.user_id, true_n, cms_n FROM cnt JOIN est USING (user_id)"
    )


SQL_CMS_COUNTS = _sql_cms_counts()


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT percentile_disc over order prices
    (operators/sketches.exact_quantiles): value histogram + the
    two-phase prefix sum (curation.distributed_cumsum) + the pure-int64
    threshold ``cum*100 >= pct*total`` — no single-task global window,
    no float quantile arithmetic."""
    from webindex_spark.operators.sketches import exact_quantiles

    return exact_quantiles(
        _t(spark, sf_dir, "orders").select("o_totalprice"),
        "o_totalprice",
        [1, 25, 50, 75, 90, 99, 100],
    )


SQL_QUANTILES = (
    "WITH v AS (SELECT o_totalprice AS v, COUNT(*) AS n FROM orders "
    "GROUP BY 1), "
    "c AS (SELECT v, SUM(n) OVER (ORDER BY v) AS cum FROM v), "
    "t AS (SELECT SUM(n) AS tot FROM v), "
    "k AS (SELECT * FROM (VALUES (1),(25),(50),(75),(90),(99),(100)) "
    "kk(pct)) "
    "SELECT pct, MIN(v) AS value FROM c, t, k "
    "WHERE cum * 100 >= pct * tot GROUP BY 1"
)


def q_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): every purchase event matched to
    the user's most recent view at-or-before it.  The Spark side is the
    union+window formulation (one shuffle, no range-join blow-up); the
    oracle is DuckDB's NATIVE ``ASOF LEFT JOIN`` — the implementation
    is certified against a real engine's built-in semantics, ties and
    misses included."""
    from webindex_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event"))
    )
    out = asof_join(left, right, ["user_id"], "ts", ["view_event"])
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "r_view_event",
        F.col("r_ts").alias("view_ts"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("r_ts").cast("timestamp"))
        )
        .cast("long")
        .alias("gap_us"),
    ).withColumnRenamed("r_view_event", "view_event")


def q_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite butterfly (4-cycle) census over the link graph
    (operators/butterflies.py).  max_degree=45 deliberately bites at
    this scale (the densest destinations are degree 46-49), so the
    hot-destination guard itself — drop whole, tally, keep both counts
    consistent — is inside the certified surface, not just the happy
    path."""
    from webindex_spark.operators.butterflies import butterfly_counts

    # count-only output: run the census on the integer key pair (the
    # uri strings are injective images of orderkey/partkey, so every
    # group, degree and pair count is identical — guide §8 proxy rule)
    # and never build or shuffle a single uri string
    return butterfly_counts(
        link_edge_keys(spark, sf_dir),
        src="o_orderkey", dst="l_partkey", max_degree=45,
    )


SQL_BUTTERFLIES = (
    f"WITH e AS (SELECT src_uri AS u, dst_uri AS v FROM ({_SQL_EDGES}) t), "
    "deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1), "
    "kept AS (SELECT e.u, e.v FROM e JOIN deg USING (v) WHERE d <= 45), "
    "p AS (SELECT a.u AS u1, b.u AS u2, CAST(COUNT(*) AS BIGINT) AS c "
    "FROM kept a JOIN kept b ON a.v = b.v AND a.u < b.u GROUP BY 1, 2) "
    "SELECT "
    "(SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) FROM deg "
    "WHERE d <= 45) AS wedges, "
    "(SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) FROM p) "
    "AS butterflies, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d > 45) AS dropped_dsts"
)


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators/asof.interval_join): views in the hour
    before each purchase, per user — the bucketed equi-join
    formulation (2 bucket probes per left row + exact residual filter)
    that replaces the BroadcastNestedLoopJoin Spark would plan for the
    naive BETWEEN theta join.  Aggregated to per-purchase view counts
    and integer-scaled value sums; zero-match purchases ride back in
    via a left join so the miss path is certified too."""
    from webindex_spark.operators.asof import interval_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("vid"),
        "ts",
        F.round(F.col("value") * 1000).cast("long").alias("vs"),
    )
    j = interval_join(left, right, ["user_id"], "ts", 3_600_000_000)
    agg = j.groupBy("user_id", "event_id", "ts").agg(
        F.count(F.lit(1)).cast("long").alias("n_views"),
        F.sum("r_vs").alias("_sv"),
    )
    return left.join(agg, ["user_id", "event_id", "ts"], "left").select(
        "user_id",
        "event_id",
        "ts",
        F.coalesce(F.col("n_views"), F.lit(0).cast("long")).alias("n_views"),
        (F.coalesce(F.col("_sv"), F.lit(0)) / 1000.0).alias("view_value"),
    )


SQL_RANGE_JOIN = (
    "WITH l AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us "
    "FROM events WHERE event_type = 'purchase'), "
    "r AS (SELECT user_id, event_id AS vid, epoch_us(ts) AS us, "
    "CAST(ROUND(value * 1000) AS BIGINT) AS vs FROM events "
    "WHERE event_type = 'view') "
    "SELECT l.user_id, l.event_id, l.ts, "
    "CAST(COUNT(r.vid) AS BIGINT) AS n_views, "
    "CAST(COALESCE(SUM(r.vs), 0) AS DOUBLE) / 1000.0 AS view_value "
    "FROM l LEFT JOIN r ON l.user_id = r.user_id "
    "AND r.us >= l.us - 3600000000 AND r.us <= l.us "
    "GROUP BY 1, 2, 3"
)


SQL_ASOF_EVENTS = (
    "WITH l AS (SELECT user_id, event_id, ts FROM events "
    "WHERE event_type = 'purchase'), "
    "r0 AS (SELECT user_id, ts, MAX(event_id) AS view_event FROM events "
    "WHERE event_type = 'view' GROUP BY 1, 2) "
    "SELECT l.user_id, l.event_id, l.ts, r0.view_event, r0.ts AS view_ts, "
    "CAST(epoch_us(l.ts) - epoch_us(r0.ts) AS BIGINT) AS gap_us "
    "FROM l ASOF LEFT JOIN r0 ON l.user_id = r0.user_id AND r0.ts <= l.ts"
)


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native stream-stream interval join under the oracle
    (streaming/event_stream.purchase_view_join): the events table
    replayed as 4 ts-contiguous micro-batch files, purchases joined to
    the same user's views in the preceding hour with watermarks on
    BOTH sides (join state bounded by the range predicate + watermark
    — the 100 TB posture for streaming joins).  The watermark delay
    (2 h) exceeds the lookback (1 h) plus the replay's
    out-of-orderness (0: ts-range files), so the emitted inner-join
    set provably equals the batch interval join, which the DuckDB
    oracle recomputes relationally.  Aggregated per purchase to
    view counts + integer-scaled value sums."""
    import os
    import shutil
    import tempfile
    import time

    from webindex_spark.streaming.event_stream import purchase_view_join

    root = tempfile.mkdtemp(prefix="wix-joinstream-gate-")
    name = "wix_stream_join"
    try:
        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        outd = os.path.join(root, "w")
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(outd)
        input_dir = os.path.join(root, "in")
        os.makedirs(input_dir)
        parts = sorted(
            f for f in os.listdir(outd)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        now = time.time()
        for i, part in enumerate(parts):
            dst = os.path.join(input_dir, f"batch-{i}.parquet")
            os.replace(os.path.join(outd, part), dst)
            os.utime(dst, (now + i, now + i))
        with _stream_conf(spark):
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(input_dir)
            )
            q = (
                purchase_view_join(
                    stream, lookback="1 hour", watermark="2 hours"
                )
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = (
            spark.table(name)
            .groupBy("user_id", "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_views"),
                (F.sum("vs") / 1000.0).alias("view_value"),
            )
            .localCheckpoint(eager=True)
        )
        out._wix_batches = _stream_batches(q)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_STREAM_JOIN = (
    "WITH l AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us "
    "FROM events WHERE event_type = 'purchase'), "
    "r AS (SELECT user_id, epoch_us(ts) AS us, "
    "CAST(ROUND(value * 1000) AS BIGINT) AS vs FROM events "
    "WHERE event_type = 'view') "
    "SELECT l.user_id, l.event_id, l.ts, "
    "CAST(COUNT(*) AS BIGINT) AS n_views, "
    "CAST(SUM(r.vs) AS DOUBLE) / 1000.0 AS view_value "
    "FROM l JOIN r ON l.user_id = r.user_id "
    "AND r.us >= l.us - 3600000000 AND r.us <= l.us "
    "GROUP BY 1, 2, 3"
)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup under the oracle (streaming/event_stream
    .dedup_stream): the events table replayed TWICE — each ts-quartile
    file immediately followed by a byte-identical duplicate file — and
    ``dropDuplicatesWithinWatermark(event_id)`` must emit each event
    exactly once.  Every duplicate arrives one micro-batch after its
    original (well inside the 30-day delay vs the ~7.5-day file span),
    so no duplicate can outlive the dedup state; the oracle is the
    plain per-type rollup of the UN-duplicated table.  The result also
    proves the drop happened: counts match events, not 2x events."""
    import os
    import shutil
    import tempfile
    import time

    from webindex_spark.streaming.event_stream import dedup_stream

    root = tempfile.mkdtemp(prefix="wix-dedupstream-gate-")
    name = "wix_stream_dedup"
    try:
        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            F.round(F.col("value") * 1000).cast("long").alias("vs"),
        )
        outd = os.path.join(root, "w")
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(outd)
        input_dir = os.path.join(root, "in")
        os.makedirs(input_dir)
        parts = sorted(
            f for f in os.listdir(outd)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        now = time.time()
        seq = 0
        for part in parts:
            srcf = os.path.join(outd, part)
            orig = os.path.join(input_dir, f"batch-{seq}.parquet")
            shutil.copyfile(srcf, orig)
            os.utime(orig, (now + seq, now + seq))
            seq += 1
            dup = os.path.join(input_dir, f"batch-{seq}.parquet")
            os.replace(srcf, dup)
            os.utime(dup, (now + seq, now + seq))
            seq += 1
        with _stream_conf(spark):
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(input_dir)
            )
            q = (
                dedup_stream(stream, keys=["event_id"], watermark="30 days")
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.countDistinct("event_id").cast("long").alias("n_distinct"),
                (F.sum("vs") / 1000.0).alias("total_value"),
            )
            .localCheckpoint(eager=True)
        )
        out._wix_batches = _stream_batches(q)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_STREAM_DEDUP = (
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events, "
    "CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct, "
    "CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS DOUBLE) / 1000.0 "
    "AS total_value FROM events GROUP BY 1"
)


def q_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-suggest index (operators/invindex.prefix_suggestions):
    top-5 corpus terms per prefix (lengths 1-5) — one corpus shuffle
    for the term frequencies, then vocabulary-sized work end to end
    (the billion-doc corpus pays vocab cost for the suggest build)."""
    from webindex_spark.operators.invindex import prefix_suggestions

    return prefix_suggestions(_docs(spark, sf_dir), max_prefix=5, top_k=5)


SQL_SUGGEST = (
    "WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array("
    "lower(trim(text)), '\\s+'), tk -> length(tk) > 0)) AS term FROM documents), "
    "tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1), "
    "pref AS (SELECT term, tf, unnest(list_transform("
    "range(1, least(length(term), 5) + 1), i -> term[1:i])) AS prefix FROM tf), "
    "r AS (SELECT prefix, term, tf, ROW_NUMBER() OVER (PARTITION BY prefix "
    "ORDER BY tf DESC, term) AS rn FROM pref), "
    "s AS (SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_terms FROM pref GROUP BY 1), "
    "t AS (SELECT prefix, string_agg(term, ',' ORDER BY rn) AS suggest "
    "FROM r WHERE rn <= 5 GROUP BY 1) "
    "SELECT s.prefix, s.n_terms, t.suggest FROM s JOIN t USING (prefix)"
)

_SNIPPET_TERM = "spark"
_SNIPPET_CTX = 30
_SNIPPET_LEN = 80


def q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-snippet extraction — the serving-path map-only op: for
    documents containing the query term, the first match position and
    a fixed context window around it.  Pure string built-ins
    (locate/substring), zero shuffle, pushed predicate."""
    docs = _t(spark, sf_dir, "documents")
    pos = F.locate(_SNIPPET_TERM, F.lower(F.col("text")))
    start = F.greatest(F.lit(1), pos - _SNIPPET_CTX)
    return docs.where(pos > 0).select(
        "doc_id",
        pos.cast("long").alias("pos"),
        F.substring(F.col("text"), start, F.lit(_SNIPPET_LEN)).alias("snippet"),
    )


SQL_SNIPPETS = (
    f"SELECT doc_id, CAST(strpos(lower(text), '{_SNIPPET_TERM}') AS BIGINT) AS pos, "
    f"substr(text, GREATEST(1, strpos(lower(text), '{_SNIPPET_TERM}') - {_SNIPPET_CTX}), "
    f"{_SNIPPET_LEN}) AS snippet "
    f"FROM documents WHERE strpos(lower(text), '{_SNIPPET_TERM}') > 0"
)


def q_quantiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile_cont (operators/sketches.interp_quantiles):
    interpolation positions kept integer (h_num div/mod 100) so both
    engines bracket identical ranks; the single float op runs on
    identical operands.  Same distributed histogram + two-phase prefix
    sum as the disc gate — no single-task window."""
    from webindex_spark.operators.sketches import interp_quantiles

    return interp_quantiles(
        _t(spark, sf_dir, "orders").select("o_totalprice"),
        "o_totalprice",
        [10, 25, 50, 75, 90, 99],
    )


SQL_QUANTILES_CONT = (
    "WITH v AS (SELECT o_totalprice AS v, COUNT(*) AS n FROM orders GROUP BY 1), "
    "c AS (SELECT v, SUM(n) OVER (ORDER BY v) AS cum FROM v), "
    "t AS (SELECT SUM(n) AS tot FROM v), "
    "k AS (SELECT * FROM (VALUES (10),(25),(50),(75),(90),(99)) kk(pct)), "
    "r AS (SELECT pct, (tot - 1) * pct AS h_num, "
    "((tot - 1) * pct) // 100 + 1 AS rank_lo, "
    "LEAST(((tot - 1) * pct) // 100 + 2, tot) AS rank_hi, "
    "CAST(((tot - 1) * pct) % 100 AS BIGINT) AS frac FROM k, t), "
    "lo AS (SELECT pct, frac, MIN(v) AS lo FROM c, r WHERE cum >= rank_lo "
    "GROUP BY 1, 2), "
    "hi AS (SELECT pct, MIN(v) AS hi FROM c, r WHERE cum >= rank_hi GROUP BY 1) "
    "SELECT lo.pct, ROUND(lo + frac * (hi - lo) / 100.0, 6) AS value "
    "FROM lo JOIN hi USING (pct)"
)


def q_fuzzy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell fuzzy term matching (operators/invindex
    .fuzzy_term_pairs): edit-distance-1 vocabulary pairs via the
    symmetric-delete bucket join (never all-pairs; lsh max_bucket
    guard) + exact levenshtein verify, both JVM built-ins.  The corpus
    vocabulary has no natural dist-1 pairs, so each document appends a
    deterministic typo of one of its own first five tokens (first-char
    deletion or plural insertion by doc_id parity) — typo↔word AND
    typo↔typo pairs (e.g. park↔part) exercise both bucket shapes."""
    from webindex_spark.operators.invindex import fuzzy_term_pairs

    docs = _docs(spark, sf_dir)
    w = F.element_at(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"),
    )
    typo = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0, F.substring(w, 2, 100)
    ).otherwise(F.concat(w, F.lit("s")))
    laced = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(" "), typo).alias("text")
    )
    return fuzzy_term_pairs(laced)


SQL_FUZZY_TERMS = (
    "WITH laced AS (SELECT doc_id, text || ' ' || "
    "CASE WHEN doc_id % 2 = 0 THEN "
    "split_part(lower(trim(text)), ' ', CAST(doc_id % 5 + 1 AS INT))[2:] "
    "ELSE split_part(lower(trim(text)), ' ', CAST(doc_id % 5 + 1 AS INT)) || 's' "
    "END AS text FROM documents), "
    "tok AS (SELECT DISTINCT unnest(list_filter(regexp_split_to_array("
    "lower(trim(text)), '\\s+'), tk -> length(tk) > 0)) AS term FROM laced), "
    "var AS (SELECT term, unnest(list_distinct(list_prepend(term, "
    "list_transform(range(1, length(term) + 1), "
    "i -> term[1:i-1] || term[i+1:length(term)])))) AS v FROM tok), "
    "b AS (SELECT v, COUNT(DISTINCT term) AS c FROM var GROUP BY 1), "
    "k AS (SELECT v FROM b WHERE c BETWEEN 2 AND 200), "
    "m AS (SELECT DISTINCT var.v, var.term FROM var JOIN k USING (v)), "
    "p AS (SELECT DISTINCT a.term AS term_a, b2.term AS term_b "
    "FROM m a JOIN m b2 ON a.v = b2.v AND a.term < b2.term) "
    "SELECT term_a, term_b, CAST(levenshtein(term_a, term_b) AS BIGINT) AS dist "
    "FROM p WHERE levenshtein(term_a, term_b) = 1"
)


def q_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) event-time windows — the surface tumbling
    ``event_rollup`` doesn't cover: 1-hour windows every 15 minutes,
    so each event lands in exactly 4 windows.  Spark's ``window()``
    expands the assignment inline (no self-join); the oracle derives
    the same 4 epoch-aligned window starts arithmetically per event."""
    ev = _t(spark, sf_dir, "events")
    w = F.window(F.col("ts").cast("timestamp"), "1 hour", "15 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(F.round(F.col("value") * 1000).cast("long")) / 1000.0)
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            F.col("w.end").cast("timestamp_ntz").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


SQL_SLIDING_ROLLUP = (
    # each event's 4 covering epoch-aligned windows: start slots
    # floor(us/900e6) - k for k in 0..3 (window 3600s, slide 900s)
    "WITH e AS (SELECT event_type, epoch_us(ts) AS us, "
    "CAST(ROUND(value * 1000) AS BIGINT) AS vs FROM events), "
    "x AS (SELECT event_type, us, vs, "
    "(us // 900000000 - k.k) * 900000000 AS ws "
    "FROM e, (SELECT unnest(range(0, 4)) AS k) k) "
    "SELECT make_timestamp(ws) AS win_start, "
    "make_timestamp(ws + 3600000000) AS win_end, event_type, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(vs) AS DOUBLE) / 1000.0 AS total_value "
    "FROM x GROUP BY 1, 2, 3"
)


def q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates made cross-engine-exact: mean/variance/
    stddev/covariance/correlation per event type, derived from INTEGER
    moment sums (Σx, Σx², Σxy on value·1000 and the props k field) —
    float accumulation order varies between engines, but deriving the
    doubles from identical int64 operands is bit-exact.  One aggregate
    pass; the moment-sum trick is also the mergeable/incremental form
    (the sketch-lane discipline applied to classical statistics)."""
    ev = _t(spark, sf_dir, "events")
    x = F.round(F.col("value") * 1000).cast("long")
    y = F.get_json_object("props", "$.k").cast("long")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    mean_x = F.col("sx") / n / 1000.0
    var_x = (F.col("sxx") / n - (F.col("sx") / n) * (F.col("sx") / n)) / 1e6
    cov = (F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)) / 1000.0
    var_y = F.col("syy") / n - (F.col("sy") / n) * (F.col("sy") / n)
    corr = cov * 1000.0 / F.sqrt((var_x * 1e6) * var_y)
    return m.select(
        "event_type",
        "n",
        F.round(mean_x, 6).alias("mean_value"),
        F.round(var_x, 6).alias("var_value"),
        F.round(F.sqrt(var_x), 6).alias("std_value"),
        F.round(cov, 6).alias("cov_vk"),
        F.round(corr, 6).alias("corr_vk"),
    )


SQL_MOMENTS = (
    "WITH e AS (SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS x, "
    "CAST(json_extract_string(props, '$.k') AS BIGINT) AS y FROM events), "
    "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
    "SUM(x) AS sx, SUM(x * x) AS sxx, SUM(y) AS sy, SUM(y * y) AS syy, "
    "SUM(x * y) AS sxy FROM e GROUP BY 1) "
    "SELECT event_type, n, "
    "ROUND(sx / n / 1000.0, 6) AS mean_value, "
    "ROUND((sxx / n - (sx / n) * (sx / n)) / 1e6, 6) AS var_value, "
    "ROUND(sqrt((sxx / n - (sx / n) * (sx / n)) / 1e6), 6) AS std_value, "
    "ROUND((sxy / n - (sx / n) * (sy / n)) / 1000.0, 6) AS cov_vk, "
    "ROUND((sxy / n - (sx / n) * (sy / n)) / 1000.0 * 1000.0 / "
    "sqrt(((sxx / n - (sx / n) * (sx / n)) / 1e6) * 1e6 * "
    "(syy / n - (sy / n) * (sy / n))), 6) AS corr_vk "
    "FROM m"
)


def q_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function surface: order counts and integer-cents
    revenue by (year, quarter, month, day-of-week) — certifies the
    date-part extractors across engines, including the day-of-week
    convention gap (Spark ``dayofweek`` is 1=Sunday; DuckDB's is
    0=Sunday, offset in the twin), plus last-day-of-month and
    ISO week-of-year on the sampled min date per group."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select(
            F.year(d).cast("long").alias("yr"),
            F.quarter(d).cast("long").alias("qtr"),
            F.month(d).cast("long").alias("mon"),
            F.dayofweek(d).cast("long").alias("dow"),
            d.alias("d"),
            cents.alias("cents"),
        )
        .groupBy("yr", "qtr", "mon", "dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
            F.min(F.to_date("d")).alias("first_date"),
            F.max(F.last_day("d")).alias("month_end"),
            F.min(F.weekofyear("d")).cast("long").alias("min_iso_week"),
        )
    )


SQL_CALENDAR = (
    "SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, "
    "CAST(quarter(o_orderdate) AS BIGINT) AS qtr, "
    "CAST(month(o_orderdate) AS BIGINT) AS mon, "
    "CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow, "
    "CAST(COUNT(*) AS BIGINT) AS n_orders, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents, "
    "MIN(CAST(o_orderdate AS DATE)) AS first_date, "
    "MAX(last_day(CAST(o_orderdate AS DATE))) AS month_end, "
    "CAST(MIN(weekofyear(o_orderdate)) AS BIGINT) AS min_iso_week "
    "FROM orders GROUP BY 1, 2, 3, 4"
)


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE companion to the ROLLUP gate: all four grouping sets of
    (order status, year) in one Expand + one aggregate — the grain
    ROLLUP's hierarchy skips ((), (yr)) is exactly what CUBE adds."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    out = (
        o.select(
            "o_orderstatus",
            F.year("o_orderdate").alias("yr"),
            cents.alias("cents"),
        )
        .cube("o_orderstatus", "yr")
        .agg(
            F.sum("cents").alias("rev_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    return out.select(
        F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
        F.coalesce(F.col("yr"), F.lit(-1)).cast("long").alias("yr"),
        F.col("rev_cents").cast("long").alias("rev_cents"),
        "n_orders",
    )


SQL_CUBE_REVENUE = (
    "SELECT COALESCE(o_orderstatus, 'ALL') AS status, "
    "COALESCE(CAST(year(o_orderdate) AS BIGINT), -1) AS yr, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents, "
    "CAST(COUNT(*) AS BIGINT) AS n_orders "
    "FROM orders GROUP BY CUBE (o_orderstatus, year(o_orderdate))"
)


# ------------------------------------------------- SQL surface breadth


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window surface in one certified pass: row_number,
    ntile, percent_rank, cume_dist, lag/lead deltas per user over
    (ts, event_id) order — one exchange, one sort, every function
    sharing the same window frame.  Ratio outputs are divisions of
    identical integer operands in both engines, hence bit-identical."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        (us - F.lag(us).over(w)).cast("long").alias("gap_prev_us"),
        (F.lead(us).over(w) - us).cast("long").alias("gap_next_us"),
    )


SQL_WINDOW_SUITE = (
    "SELECT user_id, event_id, "
    "CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn, "
    "CAST(NTILE(4) OVER w AS BIGINT) AS quartile, "
    "ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank, "
    "ROUND(CUME_DIST() OVER w, 6) AS cume, "
    "CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS BIGINT) AS gap_prev_us, "
    "CAST(LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS BIGINT) AS gap_next_us "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
)


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT distinct semantics (the §2.7 gap beyond
    unions): purchasing vs viewing day-cohort sets (single-day slices so the differences are
    non-trivial), each branch tagged and
    re-unioned so one result certifies both operators (plus the
    right-side EXCEPT for the asymmetric case)."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date(F.col("ts"))
    p = ev.where((F.col("event_type") == "purchase") & (day == "2024-01-05")).select("user_id")
    v = ev.where((F.col("event_type") == "view") & (day == "2024-01-05")).select("user_id")
    s = ev.where((F.col("event_type") == "signup") & (day == "2024-01-06")).select("user_id")
    both = p.intersect(v).select(F.lit("purchase_and_view").alias("op"), "user_id")
    only_p = p.subtract(s).select(F.lit("purchase_minus_signup").alias("op"), "user_id")
    only_s = s.subtract(p).select(F.lit("signup_minus_purchase").alias("op"), "user_id")
    return both.unionAll(only_p).unionAll(only_s)


SQL_SET_OPS = (
    "WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase' "
    "AND CAST(ts AS DATE) = DATE '2024-01-05'), "
    "v AS (SELECT user_id FROM events WHERE event_type = 'view' "
    "AND CAST(ts AS DATE) = DATE '2024-01-05'), "
    "s AS (SELECT user_id FROM events WHERE event_type = 'signup' "
    "AND CAST(ts AS DATE) = DATE '2024-01-06') "
    "SELECT 'purchase_and_view' AS op, user_id FROM "
    "(SELECT user_id FROM p INTERSECT SELECT user_id FROM v) "
    "UNION ALL SELECT 'purchase_minus_signup', user_id FROM "
    "(SELECT user_id FROM p EXCEPT SELECT user_id FROM s) "
    "UNION ALL SELECT 'signup_minus_purchase', user_id FROM "
    "(SELECT user_id FROM s EXCEPT SELECT user_id FROM p)"
)


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: the events ``props`` JSON parsed BOTH
    ways Spark offers — path extraction (``get_json_object``, lazy
    single-field) and schema projection (``from_json``, typed struct) —
    certified equal to each other and to DuckDB's json_extract, plus a
    per-type rollup of the extracted value.  Map-only + one aggregate."""
    ev = _t(spark, sf_dir, "events")
    k_path = F.get_json_object("props", "$.k").cast("long")
    k_struct = F.from_json(F.col("props"), "k long")["k"].cast("long")
    return (
        ev.select("event_type", k_path.alias("k"), k_struct.alias("k2"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum((F.col("k") == F.col("k2")).cast("long")).alias("paths_agree"),
        )
    )


SQL_JSON_EXTRACT = (
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, "
    "CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k, "
    "CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k, "
    "CAST(COUNT(*) AS BIGINT) AS paths_agree "
    "FROM events GROUP BY 1"
)


# ------------------------------------------------ engine management lane

_STATS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics (operators/checks.table_stats):
    min/max/null/distinct per column of ``orders`` in ONE aggregate
    pass (all accumulators fold in the same partial-agg pipeline —
    the scan happens once regardless of column count).  Exact ndv for
    the oracle; at 100 TB the same plan swaps approx_count_distinct."""
    from webindex_spark.operators.checks import table_stats

    return table_stats(_t(spark, sf_dir, "orders"), _STATS_COLS)


SQL_TABLE_STATS = " UNION ALL ".join(
    f"SELECT '{c}' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows, "
    f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
    f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
    f"CAST(MIN({c}) AS VARCHAR) AS min_str, CAST(MAX({c}) AS VARCHAR) AS max_str "
    "FROM orders"
    for c in _STATS_COLS
)

_CHECKS = [
    ("orderkey_not_null", "l_orderkey IS NOT NULL"),
    ("quantity_positive", "l_quantity > 0"),
    ("discount_in_range", "l_discount >= 0.0 AND l_discount <= 0.1"),
    ("tax_under_five_pct", "l_tax < 0.05"),          # deliberately violated
    ("status_enumerated", "l_linestatus IN ('O', 'F')"),
]


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint suite (operators/checks
    .run_checks): five predicates over lineitem compiled into ONE
    conditional-count aggregate pass (N constraints, one scan); the
    tax bound is deliberately violated so both verdict paths are
    certified."""
    from webindex_spark.operators.checks import run_checks

    return run_checks(_t(spark, sf_dir, "lineitem"), _CHECKS)


SQL_DQ_CHECKS = " UNION ALL ".join(
    f"SELECT '{name}' AS check, CAST(COUNT(*) AS BIGINT) AS n_rows, "
    f"CAST(SUM(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT) AS n_violations, "
    f"SUM(CASE WHEN {pred} THEN 0 ELSE 1 END) = 0 AS passed "
    "FROM lineitem"
    for name, pred in _CHECKS
)


def q_fk_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity coverage (operators/checks.fk_coverage):
    lineitem→orders (holds by construction) and orders→events-users
    (deliberately orphaned: only 150 event users exist), each a
    broadcast left-anti join — both verdict paths certified."""
    from webindex_spark.operators.checks import fk_coverage

    a = fk_coverage(
        _t(spark, sf_dir, "lineitem"), "l_orderkey",
        _t(spark, sf_dir, "orders"), "o_orderkey",
    ).select(F.lit("lineitem_orderkey_in_orders").alias("fk"), "*")
    b = fk_coverage(
        _t(spark, sf_dir, "orders"), "o_custkey",
        _t(spark, sf_dir, "events"), "user_id",
    ).select(F.lit("orders_custkey_in_event_users").alias("fk"), "*")
    return a.unionAll(b)


SQL_FK_CHECKS = (
    "SELECT 'lineitem_orderkey_in_orders' AS fk, "
    "CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child, "
    "CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) "
    "AS n_orphans, "
    "(SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0 AS passed "
    "UNION ALL "
    "SELECT 'orders_custkey_in_event_users', "
    "CAST((SELECT COUNT(*) FROM orders) AS BIGINT), "
    "CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS "
    "(SELECT 1 FROM events e WHERE e.user_id = o.o_custkey)) AS BIGINT), "
    "(SELECT COUNT(*) FROM orders o WHERE NOT EXISTS "
    "(SELECT 1 FROM events e WHERE e.user_id = o.o_custkey)) = 0"
)


# ------------------------------------------------ graph decomposition lane

_KCORE_K = 80
_KCORE_ROUNDS = 5


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (operators/kcore.kcore_peel) on the 1009-node
    host projection: 5 rounds of delete-degree-<k, bounded-round
    contract like the components operator (the oracle unrolls the same
    rounds; `converged` reports whether a fixpoint was reached).  k=90
    peels a meaningful shell at sf0.01 without emptying the graph."""
    from webindex_spark.operators.kcore import kcore_peel

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = lambda c: c.cast("string")  # noqa: E731
    e = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("n"), s(F.pmod(F.col("o_custkey"), F.lit(1009)))).alias("src"),
        F.concat(F.lit("n"), s(F.pmod(F.col("l_partkey"), F.lit(1009)))).alias("dst"),
    )
    return kcore_peel(e, k=_KCORE_K, rounds=_KCORE_ROUNDS)


_SQL_HOST_EDGES = (
    "SELECT 'n' || CAST(o_custkey % 1009 AS VARCHAR) AS s, "
    "'n' || CAST(l_partkey % 1009 AS VARCHAR) AS t "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
)


def _sql_kcore(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    sql = (
        f"WITH raw AS ({_SQL_HOST_EDGES}), "
        "e0 AS MATERIALIZED (SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b "
        "FROM raw WHERE s <> t), "
        "nodes AS MATERIALIZED (SELECT a AS id FROM e0 UNION SELECT b FROM e0)"
    )
    for r in range(1, rounds + 1):
        p = f"e{r - 1}"
        sql += (
            f", d{r} AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM "
            f"(SELECT a AS id FROM {p} UNION ALL SELECT b FROM {p}) GROUP BY 1)"
            f", k{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE d >= {k})"
            f", e{r} AS MATERIALIZED (SELECT e.a, e.b FROM {p} e "
            f"JOIN k{r} x ON e.a = x.id JOIN k{r} y ON e.b = y.id)"
        )
    conv = " OR ".join(
        f"(SELECT COUNT(*) FROM e{r}) = (SELECT COUNT(*) FROM e{r - 1})"
        for r in range(1, rounds + 1)
    )
    last = f"e{rounds}"
    return sql + (
        f", fd AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM "
        f"(SELECT a AS id FROM {last} UNION ALL SELECT b FROM {last}) GROUP BY 1) "
        "SELECT n.id, COALESCE(fd.degree, 0) AS degree, "
        f"COALESCE(fd.degree, 0) >= {k} AS in_core, "
        f"({conv}) AS converged "
        "FROM nodes n LEFT JOIN fd ON fd.id = n.id"
    )


SQL_KCORE = _sql_kcore()

_BFS_ROUNDS = 4
_BFS_SEED_PREFIX = "com.h7>>"


def q_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/kcore.hop_distances): link distance
    from host com.h7's pages over the UNDIRECTED link graph, 4 rounds —
    the crawl-planning "how deep past the seeds does the frontier
    reach" query.  Round r shuffles frontier × edges only (newly
    reached nodes), never the whole distance table."""
    from webindex_spark.operators.kcore import hop_distances

    # long-id BFS + one final uri mapping: hop distance is structure-
    # determined, and the seed predicate src_uri LIKE 'com.h7>>%' is
    # exactly o_custkey % 50 = 7 on the key side.  One lazy cut shared
    # by the edge set and the seed derivation so the orders⋈lineitem
    # join runs once.
    keys = link_edge_keys(spark, sf_dir).localCheckpoint(eager=False)
    e = keys.select(
        F.col("o_orderkey").alias("src"), (-F.col("l_partkey") - 1).alias("dst")
    )
    seeds = (
        keys.where(F.pmod(F.col("o_custkey"), F.lit(50)) == 7)
        .select(F.col("o_orderkey").alias("id"))
        .distinct()
    )
    out = hop_distances(e, seeds, rounds=_BFS_ROUNDS, directed=False)
    return int_id_to_uri(spark, sf_dir, out).select(
        F.col("__uri").alias("id"), "dist"
    )


def _sql_bfs(rounds: int = _BFS_ROUNDS) -> str:
    sql = (
        f"WITH ed AS ({_SQL_EDGES}), "
        "e AS MATERIALIZED (SELECT DISTINCT u, v FROM ("
        "SELECT src_uri AS u, dst_uri AS v FROM ed "
        "UNION ALL SELECT dst_uri AS u, src_uri AS v FROM ed)), "
        "d0 AS MATERIALIZED (SELECT DISTINCT src_uri AS id, CAST(0 AS BIGINT) AS dist "
        f"FROM ed WHERE src_uri LIKE '{_BFS_SEED_PREFIX}%'), "
        "f0 AS (SELECT id FROM d0)"
    )
    for r in range(1, rounds + 1):
        sql += (
            f", n{r} AS MATERIALIZED (SELECT DISTINCT e.v AS id FROM e "
            f"JOIN f{r - 1} f ON e.u = f.id "
            f"WHERE e.v NOT IN (SELECT id FROM d{r - 1}))"
            f", d{r} AS MATERIALIZED (SELECT id, dist FROM d{r - 1} "
            f"UNION ALL SELECT id, CAST({r} AS BIGINT) FROM n{r})"
            f", f{r} AS (SELECT id FROM n{r})"
        )
    return sql + f" SELECT id, dist FROM d{rounds}"


SQL_BFS_DEPTH = _sql_bfs()


# ---------------------------------------------------- OLAP breadth lane


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain aggregation via native ROLLUP: order revenue at
    (nation, year), (nation) and grand-total grains in ONE pass —
    Spark expands the grouping sets inside a single hash aggregate
    (Expand + partial combine), not three scans.  Revenue sums ride
    integer cents so cross-engine float addition order is moot;
    subtotal NULL markers are coalesced to sentinels for the driver's
    canonicalizer."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = o.join(c, o.o_custkey == c.c_custkey).join(
        n, c.c_nationkey == n.n_nationkey
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    out = (
        j.select(
            F.col("n_name"),
            F.year("o_orderdate").alias("yr"),
            cents.alias("cents"),
        )
        .rollup("n_name", "yr")
        .agg(
            F.sum("cents").alias("rev_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    return out.select(
        F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
        F.coalesce(F.col("yr"), F.lit(-1)).cast("long").alias("yr"),
        F.col("rev_cents").cast("long").alias("rev_cents"),
        "n_orders",
        (F.col("rev_cents") / 100.0).alias("revenue"),
    )


SQL_ROLLUP_REVENUE = (
    "WITH j AS (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr, "
    "CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey) "
    "SELECT COALESCE(n_name, 'ALL') AS nation, COALESCE(yr, -1) AS yr, "
    "CAST(SUM(cents) AS BIGINT) AS rev_cents, "
    "CAST(COUNT(*) AS BIGINT) AS n_orders, "
    "CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue "
    "FROM j GROUP BY ROLLUP(n_name, yr)"
)

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot: per-user event counts spread across one column per
    event type (explicit value list, so no extra distinct pass), plus
    the integer-scaled value total.  Pivot compiles to a single
    PivotFirst/conditional aggregate — one shuffle."""
    ev = _t(spark, sf_dir, "events")
    counts = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    totals = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("_vs")
    )
    out = counts.join(totals, "user_id")
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
            for t in _EVENT_TYPES
        ],
        (F.col("_vs") / 1000.0).alias("total_value"),
    )


SQL_PIVOT_EVENTS = (
    "SELECT user_id, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    + ", CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS DOUBLE) / 1000.0 "
    "AS total_value FROM events GROUP BY user_id"
)


def q_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (operators/analytics.cohort_retention): users
    bucketed by first-activity ISO week, counted per week offset —
    the (user, week) grid is distinct so the rollup is a plain count,
    no count-distinct shuffle."""
    from webindex_spark.operators.analytics import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


SQL_COHORTS = (
    "WITH grid AS (SELECT DISTINCT user_id AS u, "
    "CAST(date_trunc('week', ts) AS DATE) AS wk FROM events), "
    "first AS (SELECT u, MIN(wk) AS cohort_week FROM grid GROUP BY 1) "
    "SELECT f.cohort_week, "
    "CAST(date_diff('day', f.cohort_week, g.wk) // 7 AS BIGINT) AS week_offset, "
    "CAST(COUNT(*) AS BIGINT) AS n_users "
    "FROM grid g JOIN first f USING (u) GROUP BY 1, 2"
)

_FUNNEL_STAGES = ["view", "click", "purchase"]


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential 3-stage funnel (operators/analytics.funnel_summary):
    stage k counts only after stage k-1's timestamp — a per-user
    recurrence solved with one collect + in-row ordered fold (one
    shuffle) instead of one self-join per stage.  The oracle replays
    the chain relationally (one correlated min per stage), including
    the same-microsecond tiebreak (earlier stage first)."""
    from webindex_spark.operators.analytics import funnel_summary

    return funnel_summary(_t(spark, sf_dir, "events"), _FUNNEL_STAGES)


SQL_FUNNEL = (
    "WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us, "
    "CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 "
    "WHEN 'purchase' THEN 2 END AS si FROM events "
    "WHERE event_type IN ('view', 'click', 'purchase')), "
    "u0 AS (SELECT u, MIN(us) AS t0 FROM e WHERE si = 0 GROUP BY 1), "
    "u1 AS (SELECT e.u, MIN(us) AS t1 FROM e JOIN u0 USING (u) "
    "WHERE si = 1 AND us >= t0 GROUP BY 1), "
    "u2 AS (SELECT e.u, MIN(us) AS t2 FROM e JOIN u1 USING (u) "
    "WHERE si = 2 AND us >= t1 GROUP BY 1) "
    "SELECT 0 AS stage_idx, 'view' AS stage, "
    "CAST((SELECT COUNT(*) FROM u0) AS BIGINT) AS n_users, "
    "CAST(0 AS BIGINT) AS sum_gap_us "
    "UNION ALL SELECT 1, 'click', CAST((SELECT COUNT(*) FROM u1) AS BIGINT), "
    "CAST(COALESCE((SELECT SUM(t1 - t0) FROM u1 JOIN u0 USING (u)), 0) AS BIGINT) "
    "UNION ALL SELECT 2, 'purchase', CAST((SELECT COUNT(*) FROM u2) AS BIGINT), "
    "CAST(COALESCE((SELECT SUM(t2 - t1) FROM u2 JOIN u1 USING (u)), 0) AS BIGINT)"
)


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-decayed value (operators/analytics.ewma_by_key):
    the integer fixed-point EWMA recurrence s = (v + s_prev) div 2 a
    crawl scheduler keeps per host for latency/quality — folded in-row
    after ONE per-key collect (a recurrence; no window function
    expresses it), floor division each step so both engines are
    bit-identical.  Tie order (ts, event_id) replayed by the oracle's
    ordered list aggregation."""
    from webindex_spark.operators.analytics import ewma_by_key

    return ewma_by_key(_t(spark, sf_dir, "events"))


SQL_EWMA = (
    "WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, "
    "CAST(ROUND(value * 1000) AS BIGINT) AS v FROM events), "
    "coll AS (SELECT user_id, list(v ORDER BY us, event_id) AS vs, "
    "CAST(COUNT(*) AS BIGINT) AS n_events FROM e GROUP BY 1) "
    "SELECT user_id, n_events, vs[len(vs)] AS last_v, "
    "list_reduce(vs, (s, v) -> (v + s) // 2) AS ewma "
    "FROM coll"
)


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout clustering (functions/zorder.zvalue16): Morton
    keys over (custkey, orderkey) assigned to 64Ki curve ranges — the
    OPTIMIZE ZORDER primitive that makes min/max footer stats prune on
    EITHER dimension.  The per-bucket min/max spans of both dimensions
    are the certified evidence of locality; every bit of the
    interleave is replayed by the SQL twin."""
    from webindex_spark.functions.zorder import zvalue16

    o = _t(spark, sf_dir, "orders")
    z = zvalue16(F.col("o_custkey"), F.col("o_orderkey"))
    b = F.shiftright(z, 16)  # 64Ki curve ranges (z is 32-bit)
    return (
        o.select(
            z.alias("z"),
            b.alias("bucket"),
            F.col("o_custkey").bitwiseAND(F.lit(0xFFFF)).alias("x"),
            F.col("o_orderkey").bitwiseAND(F.lit(0xFFFF)).alias("y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


def _sql_zorder() -> str:
    from webindex_spark.functions.zorder import sql_zvalue16

    return (
        "WITH b AS (SELECT o_custkey & 65535 AS x, o_orderkey & 65535 AS y "
        "FROM orders), "
        f"z AS (SELECT x, y, {sql_zvalue16('x', 'y')} AS z FROM b) "
        "SELECT z >> 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS n, "
        "MIN(z) AS min_z, MAX(z) AS max_z, MIN(x) AS min_x, MAX(x) AS max_x, "
        "MIN(y) AS min_y, MAX(y) AS max_y FROM z GROUP BY 1"
    )


SQL_ZORDER = _sql_zorder()


# ------------------------------------------ structural dedup + index lane


def _boiler_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized page corpus with realistic boilerplate skew: one page
    per order, five lines — a per-host navigation header (~N/50 copies
    corpus-wide), a global copyright footer (N copies), a unique order
    line, a low-cardinality status line (some combos repeat past the
    threshold, some don't — the threshold itself is exercised), and a
    2-char 'ad' line that repeats N times but sits under the min_chars
    guard.  The SQL twin builds the identical strings."""
    o = _t(spark, sf_dir, "orders")
    s = lambda c: c.cast("string")  # noqa: E731
    host = s(F.pmod(F.col("o_custkey"), F.lit(50)))
    lines = [
        F.concat(F.lit("host com.h"), host, F.lit(" navigation home about contact")),
        F.lit("copyright 2024 webindex crawler all rights reserved"),
        F.concat(F.lit("order "), s(F.col("o_orderkey")), F.lit(" priority "), F.col("o_orderpriority")),
        F.concat(F.lit("status "), F.col("o_orderstatus"), F.lit(" date "), s(F.col("o_orderdate"))),
        F.lit("ad"),
    ]
    return o.select(
        F.col("o_orderkey").alias("doc_id"),
        F.concat_ws("\n", *lines).alias("text"),
    )


_SQL_BOILER_PAGES = (
    "SELECT o_orderkey AS doc_id, "
    "'host com.h' || CAST(o_custkey % 50 AS VARCHAR) || ' navigation home about contact' || chr(10) || "
    "'copyright 2024 webindex crawler all rights reserved' || chr(10) || "
    "'order ' || CAST(o_orderkey AS VARCHAR) || ' priority ' || o_orderpriority || chr(10) || "
    "'status ' || o_orderstatus || ' date ' || CAST(o_orderdate AS VARCHAR) || chr(10) || "
    "'ad' AS text FROM orders"
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style corpus line dedup (operators/linedup
    .corpus_line_dedup) over the boilerplate page corpus: lines
    repeating ≥ 3× corpus-wide are dropped from every document (the
    per-host nav header and global footer go; unique order lines stay;
    repeated-but-short 'ad' lines stay via the min_chars guard; the
    low-cardinality status lines straddle the threshold).  One corpus
    shuffle — the duplicate-line dictionary is a partial-agg +
    broadcast join."""
    from webindex_spark.operators.linedup import corpus_line_dedup

    out = corpus_line_dedup(
        _boiler_pages(spark, sf_dir), min_count=3, min_chars=5
    )
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        "n_dropped",
        F.length("clean_text").cast("long").alias("clean_chars"),
        F.md5("clean_text").alias("clean_hash"),
    )


SQL_LINE_DEDUP = (
    f"WITH pages AS ({_SQL_BOILER_PAGES}), "
    "ln0 AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM pages), "
    "ln1 AS (SELECT doc_id, unnest(list_transform(range(1, len(parts) + 1), "
    "i -> {'pos': i - 1, 'line': parts[i]})) AS pl FROM ln0), "
    "lines AS (SELECT doc_id, pl.pos AS pos, pl.line AS line FROM ln1), "
    "dup AS (SELECT md5(line) AS lh FROM lines WHERE length(line) >= 5 "
    "GROUP BY 1 HAVING COUNT(*) >= 3), "
    "m AS (SELECT l.doc_id, l.pos, l.line, (d.lh IS NOT NULL) AS isdup "
    "FROM lines l LEFT JOIN dup d ON md5(l.line) = d.lh) "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines, "
    "CAST(SUM(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, "
    "CAST(length(COALESCE(string_agg(CASE WHEN NOT isdup THEN line END, chr(10) "
    "ORDER BY pos), '')) AS BIGINT) AS clean_chars, "
    "md5(COALESCE(string_agg(CASE WHEN NOT isdup THEN line END, chr(10) "
    "ORDER BY pos), '')) AS clean_hash "
    "FROM m GROUP BY doc_id"
)

_WD_W = 8  # window width (tokens) for the substring-dedup gate


def _passage_spark() -> F.Column:
    """Shared 10-token passage appended to every 3rd document, keyed by
    doc_id % 17 — cross-document exact substring duplication with known
    group structure (the raw corpus is collision-free word soup)."""
    g = F.pmod(F.col("doc_id"), F.lit(17)).cast("string")
    toks = [F.concat(F.lit("pg"), g, F.lit(f"w{j}")) for j in range(10)]
    return F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(F.col("text"), F.lit(" "), F.concat_ws(" ", *toks)),
    ).otherwise(F.col("text"))


_SQL_PASSAGE = (
    "CASE WHEN doc_id % 3 = 0 THEN text || ' ' || "
    + " || ' ' || ".join(
        f"'pg' || CAST(doc_id % 17 AS VARCHAR) || 'w{j}'" for j in range(10)
    )
    + " ELSE text END"
)


def q_win_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (8-token rolling window) duplication census
    (operators/linedup.window_dedup_stats) — the scalable stand-in for
    suffix-array dedup: per document, how many windows are duplicated
    corpus-wide and exactly how many token positions their union
    covers (ordered-window interval union, no per-doc Python).  Runs
    under the portable hash so DuckDB replays the window hashing
    bit-exactly."""
    from webindex_spark.operators.linedup import window_dedup_stats

    corpus = _docs(spark, sf_dir).select("doc_id", _passage_spark().alias("text"))
    return window_dedup_stats(
        corpus, w=_WD_W, min_count=2,
        token_hash_fn=ph.phash62, compose_fn=ph.compose62,
    )


SQL_WIN_DEDUP = (
    _sql_gram_hashes(
        _WD_W, with_pos=True, src="corpus",
        prelude=f"corpus AS (SELECT doc_id, {_SQL_PASSAGE} AS text FROM documents)",
    )
    + ", dupw AS (SELECT gh FROM gr GROUP BY gh HAVING COUNT(*) >= 2), "
    "m AS (SELECT g.id, g.pos, (d.gh IS NOT NULL) AS isdup "
    "FROM gr g LEFT JOIN dupw d USING (gh)), "
    "c AS (SELECT id, pos, isdup, "
    f"MAX(CASE WHEN isdup THEN pos + {_WD_W} END) OVER (PARTITION BY id ORDER BY pos "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM m), "
    "agg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_windows, "
    "CAST(SUM(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows, "
    f"CAST(SUM(CASE WHEN isdup THEN GREATEST(0, pos + {_WD_W} - "
    "GREATEST(pos, COALESCE(pe, pos))) ELSE 0 END) AS BIGINT) AS raw_cov "
    "FROM c GROUP BY id), "
    "base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t) "
    "SELECT b.doc_id, b.n_tokens, "
    "CAST(COALESCE(a.n_windows, 0) AS BIGINT) AS n_windows, "
    "CAST(COALESCE(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows, "
    "LEAST(COALESCE(a.raw_cov, 0), b.n_tokens) AS dup_token_cov, "
    "ROUND(LEAST(COALESCE(a.raw_cov, 0), b.n_tokens) / GREATEST(b.n_tokens, 1), 6) "
    "AS dup_frac "
    "FROM base b LEFT JOIN agg a ON b.doc_id = a.id"
)


def q_win_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup with cutting (operators/linedup
    .window_dedup_cut, Lee et al. semantics): on the laced corpus,
    every duplicated 8-token window occurrence except its corpus-first
    keeper is removed and documents are rebuilt from the surviving
    tokens — so exactly one copy of the shared passage survives per
    passage group.  Duplicate dictionary carries the keeper coordinate
    in the same partial aggregate; rebuild is an in-row array filter;
    one corpus shuffle."""
    from webindex_spark.operators.linedup import window_dedup_cut

    corpus = _docs(spark, sf_dir).select("doc_id", _passage_spark().alias("text"))
    out = window_dedup_cut(
        corpus, w=_WD_W, min_count=2,
        token_hash_fn=ph.phash62, compose_fn=ph.compose62,
    )
    return out.select(
        "doc_id", "n_tokens", "n_cut",
        F.length("clean_text").cast("long").alias("clean_chars"),
        F.md5("clean_text").alias("clean_hash"),
    )


SQL_WIN_CUT = (
    _sql_gram_hashes(
        _WD_W, with_pos=True, src="corpus",
        prelude=f"corpus AS (SELECT doc_id, {_SQL_PASSAGE} AS text FROM documents)",
    )
    + ", cnt AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS c FROM gr GROUP BY 1), "
    "inst AS (SELECT g.id, g.pos, g.gh, n.c, ROW_NUMBER() OVER "
    "(PARTITION BY g.gh ORDER BY g.id, g.pos) AS rk FROM gr g JOIN cnt n USING (gh)), "
    f"cut AS (SELECT id, pos AS s, pos + {_WD_W} AS e FROM inst WHERE c >= 2 AND rk > 1), "
    "tok AS (SELECT doc_id AS id, unnest(list_transform(range(1, len(toks) + 1), "
    "i -> {'tpos': i - 1, 'tok': toks[i]})) AS pt FROM t), "
    "tok2 AS (SELECT id, pt.tpos AS tpos, pt.tok AS tok FROM tok), "
    "keep AS (SELECT k.id, k.tpos, k.tok FROM tok2 k WHERE NOT EXISTS "
    "(SELECT 1 FROM cut c WHERE c.id = k.id AND c.s <= k.tpos AND k.tpos < c.e)) "
    "SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, "
    "CAST(len(t.toks) - COUNT(k.tok) AS BIGINT) AS n_cut, "
    "CAST(length(COALESCE(string_agg(k.tok, ' ' ORDER BY k.tpos), '')) AS BIGINT) "
    "AS clean_chars, "
    "md5(COALESCE(string_agg(k.tok, ' ' ORDER BY k.tpos), '')) AS clean_hash "
    "FROM t LEFT JOIN keep k ON t.doc_id = k.id GROUP BY t.doc_id, len(t.toks)"
)


def q_rep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (textstats.repetition_stats): top-2/3
    word-n-gram character fractions and duplicated-2-gram character
    fraction per document, plus the pass verdict — computed map-only
    (one in-row sort + fold per n), zero shuffle.  The oracle replays
    the same numbers relationally (explode + groupBy + window)."""
    from webindex_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


SQL_REP_STATS = (
    "WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), "
    "'\\s+'), tk -> length(tk) > 0) AS toks, CAST(length(text) AS BIGINT) AS n_chars "
    "FROM documents), "
    "g2 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS gram FROM t WHERE len(toks) > 0), "
    "g3 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS gram FROM t WHERE len(toks) > 0), "
    "c2 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g2 GROUP BY 1, 2), "
    "c3 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g3 GROUP BY 1, 2), "
    "top2 AS (SELECT doc_id, c * length(gram) AS top2_chars FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn "
    "FROM c2) WHERE rn = 1), "
    "top3 AS (SELECT doc_id, c * length(gram) AS top3_chars FROM "
    "(SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn "
    "FROM c3) WHERE rn = 1), "
    "dup2 AS (SELECT doc_id, CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c * length(gram) END), 0) "
    "AS BIGINT) AS dup2_chars FROM c2 GROUP BY 1) "
    "SELECT t.doc_id, t.n_chars, "
    "CAST(COALESCE(top2_chars, 0) AS BIGINT) AS top2_chars, "
    "ROUND(COALESCE(top2_chars, 0) / GREATEST(t.n_chars, 1), 6) AS top2_frac, "
    "CAST(COALESCE(top3_chars, 0) AS BIGINT) AS top3_chars, "
    "ROUND(COALESCE(top3_chars, 0) / GREATEST(t.n_chars, 1), 6) AS top3_frac, "
    "CAST(COALESCE(dup2_chars, 0) AS BIGINT) AS dup2_chars, "
    "ROUND(COALESCE(dup2_chars, 0) / GREATEST(t.n_chars, 1), 6) AS dup2_frac, "
    "(ROUND(COALESCE(top2_chars, 0) / GREATEST(t.n_chars, 1), 6) <= 0.20 AND "
    "ROUND(COALESCE(top3_chars, 0) / GREATEST(t.n_chars, 1), 6) <= 0.18 AND "
    "ROUND(COALESCE(dup2_chars, 0) / GREATEST(t.n_chars, 1), 6) <= 0.60) AS rep_pass "
    "FROM t LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id) "
    "LEFT JOIN dup2 USING (doc_id)"
)


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists (operators/invindex
    .inverted_postings): per term, document frequency, total term
    frequency, and the top-20 documents by in-document tf as a bounded
    posting string — the WindowGroupLimit cap keeps a stopword term
    from ever materializing its full posting set."""
    from webindex_spark.operators.invindex import inverted_postings

    return inverted_postings(_docs(spark, sf_dir), top_terms=100, post_len=20)


SQL_POSTINGS = (
    "WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array("
    "lower(trim(text)), '\\s+'), tk -> length(tk) > 0)) AS term FROM documents), "
    "tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), "
    "r AS (SELECT term, doc_id, tf, ROW_NUMBER() OVER (PARTITION BY term "
    "ORDER BY tf DESC, doc_id) AS rn FROM tf), "
    "s AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) "
    "AS total_tf FROM tf GROUP BY 1), "
    "p AS (SELECT term, string_agg(CAST(doc_id AS VARCHAR) || ':' || "
    "CAST(tf AS VARCHAR), ',' ORDER BY rn) AS posting FROM r WHERE rn <= 20 GROUP BY 1) "
    "SELECT s.term, s.df, s.total_tf, p.posting FROM s JOIN p USING (term) "
    "ORDER BY df DESC, term LIMIT 100"
)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/curation.priority_sample): top-25 documents per language
    by integer priority phash62(id) div weight — heavier (longer)
    documents win proportionally more often, no RNG anywhere, so the
    oracle replays the exact selection."""
    from webindex_spark.operators.curation import priority_sample

    return priority_sample(
        _t(spark, sf_dir, "documents"), weight_col="n_chars", k=25
    )


SQL_WEIGHTED_SAMPLE = (
    "WITH k AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight, "
    f"{ph.sql_phash62('CAST(doc_id AS VARCHAR)')} AS h FROM documents), "
    "p AS (SELECT doc_id, lang, weight, h // GREATEST(weight, 1) AS priority FROM k), "
    "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY priority, doc_id) "
    "AS rn FROM p) "
    "SELECT doc_id, lang, weight, priority FROM r WHERE rn <= 25"
)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census (operators/triangles.triangle_census) over
    a 2003-node host projection of a quarter-slice of the order→part
    graph — degree orientation bounds every out-neighborhood at O(√m)
    so the wedge expansion needs no drop-based cap; the closing-edge
    probe joins on the orientation key, JVM-side pair expansion
    throughout.  The slice + modulus keep the projection's DENSITY
    stable across scale factors (a fixed small modulus saturates
    toward a complete graph as the fact tables grow — a synthetic
    artifact that made the old gate wedge-bound at sf0.1)."""
    from webindex_spark.operators.triangles import triangle_census

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # count-only output: 'n'||k is a bijection of k (mod 2003), and the
    # census is invariant under any node bijection (the orientation
    # tie-break only needs SOME strict total order) — so the census
    # runs on the raw ints and never builds the node-name strings
    e = (
        li.where(F.pmod(F.col("l_orderkey"), F.lit(4)) == 0)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.pmod(F.col("o_custkey"), F.lit(2003)).alias("src"),
            F.pmod(F.col("l_partkey"), F.lit(2003)).alias("dst"),
        )
    )
    return triangle_census(e, "src", "dst")


SQL_TRIANGLES = (
    "WITH raw AS (SELECT 'n' || CAST(o_custkey % 2003 AS VARCHAR) AS s, "
    "'n' || CAST(l_partkey % 2003 AS VARCHAR) AS t "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE l_orderkey % 4 = 0), "
    "e AS (SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b FROM raw WHERE s <> t), "
    "deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM "
    "(SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY 1), "
    "k AS (SELECT e.a, e.b, da.d AS da, db.d AS db FROM e "
    "JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n), "
    "o AS (SELECT CASE WHEN (da < db) OR (da = db AND a < b) THEN a ELSE b END AS u, "
    "CASE WHEN (da < db) OR (da = db AND a < b) THEN b ELSE a END AS w, "
    "CASE WHEN (da < db) OR (da = db AND a < b) THEN db ELSE da END AS dw FROM k), "
    "tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS triangles FROM o o1 "
    "JOIN o o2 ON o1.u = o2.u AND (o1.dw < o2.dw OR (o1.dw = o2.dw AND o1.w < o2.w)) "
    "JOIN o o3 ON o3.u = o1.w AND o3.w = o2.w), "
    "sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, "
    "CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) AS wedges FROM deg), "
    "ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e) "
    "SELECT n_nodes, n_edges, wedges, triangles, "
    "ROUND((triangles * 3) / GREATEST(wedges, 1), 6) AS global_cc "
    "FROM sums, ec, tri"
)


# ------------------------------------------------------- host graph (r6)


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level contraction of the page link graph
    (operators/hostgraph.py host_graph): one weighted edge per
    cross-host (src_host, dst_host) pair with page-level link count and
    distinct pages on each side.  The object crawl policy runs on —
    the reference only rolls up to per-domain page counts
    (IndexUtil.java:104-123); this keeps the edges."""
    from webindex_spark.operators.hostgraph import host_graph

    # the host pair is (custkey%50, partkey%100) and the distinct-page
    # counts are over orderkey/partkey — all injective images, so the
    # contraction runs on the longs and the host strings are built only
    # for the ~5000 output rows.  (src host 'com.hX' can never equal
    # dst host 'com.pY', so the operator's self-host filter stays
    # vacuous-true exactly as on the string edges.)
    keys = link_edge_keys(spark, sf_dir)
    e = keys.select(
        F.col("o_orderkey").alias("src_uri"),
        F.col("l_partkey").alias("dst_uri"),
        (F.col("o_custkey") % 50).alias("src_host"),
        (F.col("l_partkey") % 100 - 1000).alias("dst_host"),
    )
    out = host_graph(e)
    return out.select(
        F.concat(F.lit("com.h"), F.col("src_host").cast("string")).alias("src_host"),
        F.concat(F.lit("com.p"), (F.col("dst_host") + 1000).cast("string")).alias("dst_host"),
        "n_links", "n_src_pages", "n_dst_pages",
    )


SQL_HOST_GRAPH = (
    f"WITH e AS ({_SQL_EDGES}) "
    "SELECT split_part(src_uri, '>', 1) AS src_host, "
    "split_part(dst_uri, '>', 1) AS dst_host, "
    "CAST(COUNT(*) AS BIGINT) AS n_links, "
    "CAST(COUNT(DISTINCT src_uri) AS BIGINT) AS n_src_pages, "
    "CAST(COUNT(DISTINCT dst_uri) AS BIGINT) AS n_dst_pages "
    "FROM e WHERE split_part(src_uri, '>', 1) <> split_part(dst_uri, '>', 1) "
    "GROUP BY 1, 2"
)


def q_degree_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law degree histogram of the link graph
    (operators/hostgraph.py degree_census): per side (in/out), nodes per
    floor(log2(degree)) bucket with the bucket's min/max degree.
    Buckets come from the highest-set-bit position (length(bin(d))-1),
    integer-exact on both engines."""
    from webindex_spark.operators.hostgraph import degree_census

    # output carries no node names — only (side, log2-bucket) histogram
    # rows — and degrees are invariant under the bijective id encoding,
    # so the census runs on the long edges outright
    return degree_census(
        int_link_edges(spark, sf_dir), src="src", dst="dst"
    )


SQL_DEGREE_CENSUS = (
    f"WITH e AS ({_SQL_EDGES}), "
    "d AS (SELECT 'out' AS side, src_uri AS node, "
    "CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1, 2 "
    "UNION ALL SELECT 'in' AS side, dst_uri AS node, "
    "CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1, 2) "
    "SELECT side, CAST(LENGTH(BIN(deg)) - 1 AS BIGINT) AS bucket, "
    "CAST(COUNT(*) AS BIGINT) AS n_nodes, "
    "MIN(deg) AS min_deg, MAX(deg) AS max_deg "
    "FROM d GROUP BY 1, 2"
)


def q_domain_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host co-citation census (operators/hostgraph.py domain_cooccur):
    unordered destination-host pairs linked from the same source page,
    with the link-farm out-degree guard (max_out=5) exercised for real
    — multi-line orders exceed it and are deterministically excluded on
    both engines before the O(out^2) pair expansion."""
    from webindex_spark.operators.hostgraph import domain_cooccur

    # the page grouping key is the long orderkey (injective image of
    # src_uri) — the host strings must stay strings because the output
    # pair (host_a < host_b) is ordered by STRING comparison
    e = link_edge_keys(spark, sf_dir).select(
        F.col("o_orderkey").alias("src_uri"),
        F.concat(
            F.lit("com.p"), (F.col("l_partkey") % 100).cast("string")
        ).alias("dst_host"),
    )
    return domain_cooccur(e, max_out=5)


SQL_DOMAIN_COOCCUR = (
    f"WITH e AS ({_SQL_EDGES}), "
    "ph AS (SELECT DISTINCT src_uri AS p, split_part(dst_uri, '>', 1) AS h "
    "FROM e), "
    "deg AS (SELECT p, COUNT(*) AS c FROM ph GROUP BY p), "
    "kept AS (SELECT ph.p, ph.h FROM ph JOIN deg ON ph.p = deg.p "
    "WHERE deg.c <= 5) "
    "SELECT a.h AS host_a, b.h AS host_b, "
    "CAST(COUNT(*) AS BIGINT) AS n_pages "
    "FROM kept a JOIN kept b ON a.p = b.p AND a.h < b.h "
    "GROUP BY 1, 2"
)


QUERIES: dict = {
    # --- driver CORRECTNESS window (first 50 keys) -------------------
    # The driver certifies only the first 50 entries per round, so the
    # order rotates by LEAST-RECENTLY-DRIVER-CERTIFIED first (VERDICT
    # r6 #2): round 7 front-loads the 44 gates whose last driver row is
    # CORRECTNESS_r05.json, keeps the three regression sentinels
    # in-window, and adds the three gates this round's optimization
    # restructured most aggressively (pagerank/hits/butterflies int-id
    # proxies).  Everything below the marker was driver-certified in
    # r06 (domain_counts/inlinks/top_pages rode r6's rows 48-50).
    # Next round: rotate the r06 block up in this same way.
    "domain_rank": (q_domain_rank, SQL_DOMAIN_RANK),
    "frontier_unseen": (q_frontier_unseen, SQL_FRONTIER_UNSEEN),
    "schedule": (q_schedule, SQL_SCHEDULE),
    "sched_cogroup_cuckoo": (q_sched_cogroup_cuckoo, SQL_SCHED_COGROUP),
    "audio_gate": (q_audio_gate, SQL_AUDIO_GATE),
    "image_gate": (q_image_gate, SQL_IMAGE_GATE),
    "video_gate": (q_video_gate, SQL_VIDEO_GATE),
    "resample_gate": (q_resample_gate, SQL_RESAMPLE_GATE),
    "resize_gate": (q_resize_gate, SQL_RESIZE_GATE),
    "feature_gate": (q_feature_gate, SQL_FEATURE_GATE),
    "robots_gate": (q_robots_gate, SQL_ROBOTS_GATE),
    "rank_rows": (q_rank_rows, SQL_RANK_ROWS),
    "unseen_two_tier": (q_unseen_two_tier, SQL_UNSEEN_TWO_TIER),
    "stream_uri_counts": (q_stream_uri_counts, SQL_STREAM_URI_COUNTS),
    "stream_event_rollup": (q_stream_event_rollup, SQL_STREAM_EVENT_ROLLUP),
    "dup_clusters": (q_dup_clusters, SQL_DUP_CLUSTERS),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_revenue_orders": (q_top_revenue_orders, SQL_TOP_REVENUE_ORDERS),
    "nation_volume": (q_nation_volume, SQL_NATION_VOLUME),
    "event_rollup": (q_event_rollup, SQL_EVENT_ROLLUP),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "bpe_tokens": (q_bpe_tokens, SQL_BPE_TOKENS),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "knn_cosine": (q_knn_cosine, SQL_KNN_COSINE),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "part_semi_join": (q_part_semi_join, SQL_PART_SEMI_JOIN),
    "order_rollup": (q_order_rollup, SQL_ORDER_ROLLUP),
    "running_total": (q_running_total, SQL_RUNNING_TOTAL),
    "supplier_distinct": (q_supplier_distinct, SQL_SUPPLIER_DISTINCT),
    "minhash_pairs": (q_minhash_pairs, SQL_MINHASH_PAIRS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_near_pairs": (q_simhash_near_pairs, SQL_SIMHASH_NEAR_PAIRS),
    "phash_near_dup": (q_phash_near_dup, SQL_PHASH_NEAR_DUP),
    "fingerprints": (q_fingerprints, SQL_FINGERPRINTS),
    "knn_lsh": (q_knn_lsh, SQL_KNN_LSH),
    "knn_ivf": (q_knn_ivf, SQL_KNN_IVF),
    "emb_near_dup": (q_emb_near_dup, SQL_EMB_NEAR_DUP),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "strat_sample": (q_strat_sample, SQL_STRAT_SAMPLE),
    "seq_pack": (q_seq_pack, SQL_SEQ_PACK),
    "tfidf_terms": (q_tfidf_terms, SQL_TFIDF_TERMS),
    # regression sentinels (driver-certified every round) -------------
    "uri_counts": (q_uri_counts, SQL_URI_COUNTS),
    "delta_merge": (q_delta_merge, SQL_DELTA_MERGE),
    "sched_cogroup": (q_sched_cogroup, SQL_SCHED_COGROUP),
    # most-restructured-this-round gates (fresh certificate wanted) ---
    "pagerank": (q_pagerank, SQL_PAGERANK),
    "hits": (q_hits, SQL_HITS),
    "butterflies": (q_butterflies, SQL_BUTTERFLIES),
    # --- end of driver window: all driver-certified in r06 -----------
    "domain_counts": (q_domain_counts, SQL_DOMAIN_COUNTS),
    "inlinks": (q_inlinks, SQL_INLINKS),
    "top_pages": (q_top_pages, SQL_TOP_PAGES),
    "sessions": (q_sessions, SQL_SESSIONS),
    "stream_sessions": (q_stream_sessions, SQL_STREAM_SESSIONS),
    "hll_distinct": (q_hll_hosts, SQL_HLL_HOSTS),
    "cms_counts": (q_cms_counts, SQL_CMS_COUNTS),
    "quantiles": (q_quantiles, SQL_QUANTILES),
    "quantiles_cont": (q_quantiles_cont, SQL_QUANTILES_CONT),
    "asof_join": (q_asof_events, SQL_ASOF_EVENTS),
    "range_join": (q_range_join, SQL_RANGE_JOIN),
    "line_dedup": (q_line_dedup, SQL_LINE_DEDUP),
    "win_dedup": (q_win_dedup, SQL_WIN_DEDUP),
    "win_cut": (q_win_cut, SQL_WIN_CUT),
    "rep_stats": (q_rep_stats, SQL_REP_STATS),
    "postings": (q_postings, SQL_POSTINGS),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "triangles": (q_triangles, SQL_TRIANGLES),
    "stream_join": (q_stream_join, SQL_STREAM_JOIN),
    "stream_dedup": (q_stream_dedup, SQL_STREAM_DEDUP),
    "rollup_revenue": (q_rollup_revenue, SQL_ROLLUP_REVENUE),
    "pivot_events": (q_pivot_events, SQL_PIVOT_EVENTS),
    "cohorts": (q_cohorts, SQL_COHORTS),
    "funnel": (q_funnel, SQL_FUNNEL),
    "ewma": (q_ewma, SQL_EWMA),
    "zorder": (q_zorder, SQL_ZORDER),
    "kcore": (q_kcore, SQL_KCORE),
    "bfs_depth": (q_bfs_depth, SQL_BFS_DEPTH),
    "suggest": (q_suggest, SQL_SUGGEST),
    "snippets": (q_snippets, SQL_SNIPPETS),
    "fuzzy_terms": (q_fuzzy_terms, SQL_FUZZY_TERMS),
    "sliding_rollup": (q_sliding_rollup, SQL_SLIDING_ROLLUP),
    "moments": (q_moments, SQL_MOMENTS),
    "cube_revenue": (q_cube_revenue, SQL_CUBE_REVENUE),
    "calendar": (q_calendar, SQL_CALENDAR),
    "window_suite": (q_window_suite, SQL_WINDOW_SUITE),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "table_stats": (q_table_stats, SQL_TABLE_STATS),
    "dq_checks": (q_dq_checks, SQL_DQ_CHECKS),
    "fk_checks": (q_fk_checks, SQL_FK_CHECKS),
    "host_graph": (q_host_graph, SQL_HOST_GRAPH),
    "domain_cooccur": (q_domain_cooccur, SQL_DOMAIN_COOCCUR),
    "degree_census": (q_degree_census, SQL_DEGREE_CENSUS),
}
