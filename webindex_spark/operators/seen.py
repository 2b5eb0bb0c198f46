"""Partitioned URL-seen set (SURVEY.md §7.2 M3; north-rule core): the
two-tier protocol, and the Bloom filter kind.

Two tiers, exactly as the scale design demands:

  * **Filter tier (cheap negative)**: a DataFrame of ``(pid:int,
    <column>:array<long>)`` shard rows.  Its kind is one params object —
    ``BloomParams`` here (column ``words``), ``cuckoo.CuckooParams`` in
    operators/cuckoo.py (column ``buckets``) — that supplies the kind's
    parts: byte size, JVM hash columns (``xxhash64``), Catalyst and numpy
    membership tests, empty table and insert.  This module owns the rest
    once, for either kind: the probe regime (``cogroup_regime``, the one
    read of ``BROADCAST_BLOOM_MAX_BYTES``, at call time), both probes and
    ``filter_unseen``.  Probing has two physical modes, by filter size:
      - **broadcast/JVM** (filter ≤ 512 MiB): the shard rows broadcast-
        join to candidates on pid and the kind's test runs as pure
        Catalyst expressions (Bloom: ``element_at`` + ``getbit``) inside
        whole-stage codegen — zero shuffle, zero Python;
      - **cogroup/numpy** (the 10^10-URL sizing, ~14 GiB at fpp 1%):
        candidates shuffle once to their shard's partition and the kind's
        test runs vectorized in numpy over Arrow batches.
  * **Exact tier**: candidates the filter flags as maybe-seen are confirmed
    with a LEFT ANTI join against the seen table.  False positives only
    cost extra anti-join input, never correctness — final membership is
    EXACT, which the north rule's "matching URL-seen membership" requires.

Sizing (documented formula, SURVEY.md §7.3): bits = -n * ln(p) / (ln 2)^2.
For 10^10 URLs at p = 0.01 that is ~1.2 * 10^11 bits ≈ 14.4 GiB, sharded
over ``n_partitions`` rows (1024 partitions → ~14 MiB each).  Tests
exercise the same code at small n.

Index derivation (identical in the numpy and Catalyst implementations, and
ANSI-overflow-safe): h1' = pmod(xxhash64('h1', uri), 2^31),
h2' = pmod(xxhash64('h2', uri), 2^31) | 1; index_i = (h1' + i*h2') % bits
for i in 0..k-1 (Kirsch-Mitzenmacher double hashing).
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from webindex_spark.operators.materialize import Materializer

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), False),
        T.StructField("words", T.ArrayType(T.LongType(), False), False),
    ]
)

# filters (of either kind) at or below this total size take the
# broadcast/JVM probe path; read only by cogroup_regime
BROADCAST_BLOOM_MAX_BYTES = 512 * 1024 * 1024

_H31 = 1 << 31


class BloomParams(NamedTuple):
    """The Bloom kind's parts: ``bits`` per shard, ``k`` index hashes."""

    n_partitions: int
    bits: int
    k: int

    column = "words"
    hash_cols = ("h1", "h2")

    @property
    def nbytes(self) -> int:
        return self.n_partitions * (self.bits // 8)

    def with_hashes(
        self, df: DataFrame, uri_col: str, pid_expr: F.Column | None = None
    ) -> DataFrame:
        """JVM-side hashing: partition id + the two reduced index hashes.

        ``pid_expr`` overrides the shard id (default: uri hash).  Insert
        and probe must use the SAME pid function for a given filter table;
        the bit positions (h1/h2) are pid-independent, so the pid only
        chooses which shard owns a uri's bits."""
        c = F.col(uri_col)
        pid = (
            pid_expr
            if pid_expr is not None
            else F.pmod(
                F.xxhash64(F.lit("pid"), c), F.lit(self.n_partitions)
            ).cast("int")
        )
        return (
            df.withColumn("pid", pid)
            .withColumn("h1", F.pmod(F.xxhash64(F.lit("h1"), c), F.lit(_H31)))
            .withColumn(
                "h2", F.pmod(F.xxhash64(F.lit("h2"), c), F.lit(_H31)).bitwiseOR(F.lit(1))
            )
        )

    def jvm_test(self) -> F.Column:
        """The k getbit tests as Catalyst expressions over ``words``."""
        test = F.lit(True)
        for i in range(self.k):
            idx = F.pmod(F.col("h1") + F.lit(i) * F.col("h2"), F.lit(self.bits))
            word = F.element_at(F.col("words"), F.shiftright(idx, 6).cast("int") + 1)
            bit = F.call_function("getbit", word, F.pmod(idx, F.lit(64)).cast("int"))
            test = test & (bit == 1)
        return test

    def np_test(self, words: np.ndarray, cdf: pd.DataFrame) -> np.ndarray:
        """The same k bit tests in numpy over one shard's uint64 words."""
        idx = _indices(cdf["h1"].to_numpy(), cdf["h2"].to_numpy(), self.k, self.bits)
        hit = (words[idx >> 6] >> (idx & 63).astype(np.uint64)) & np.uint64(1)
        return hit.astype(bool).all(axis=1)

    def empty(self, spark: SparkSession) -> DataFrame:
        return empty_bloom(spark, self.n_partitions, self.bits)

    def insert(
        self, uris: DataFrame, table: DataFrame, uri_col: str = "uri",
        pid_expr: F.Column | None = None, delta_only: bool = False,
    ) -> DataFrame:
        return bloom_insert(
            uris, table, uri_col, self.k, self.bits, self.n_partitions,
            pid_expr, delta_only,
        )


def bloom_params(expected_n: int, fpp: float = 0.01, n_partitions: int = 64):
    """BloomParams(n_partitions, bits_per_partition, k). bits rounded to 64.

    Sizing assumes UNIFORM load across shards.  With ``host_salt_pid``
    sharding, one shard carries a whole (host, salt) slice of the seen
    set: a host holding p% of all seen uris puts ~p/n_salts% of the set
    against 1/n_partitions of the bits, and past ~bits/10 entries that
    shard's FPP degrades toward 1 — every fresh candidate of the hot
    host then flags maybe_seen, silently bypassing the in-kernel
    politeness pre-cut and inflating the exact anti-join (correct, but
    the cheap-negative tier stops paying there).  Levers, in order:
    raise ``n_sub`` in host_salt_pid (divides the hot host's filter load
    n_sub ways — note it divides BLOOM load as well as scheduling skew),
    or size ``expected_n`` for the hottest expected (host, salt) slice
    times n_partitions rather than for the global mean."""
    total_bits = max(4096, int(-expected_n * math.log(fpp) / (math.log(2) ** 2)))
    bits = ((total_bits // n_partitions) + 63) // 64 * 64
    k = max(1, round(math.log(2) * total_bits / max(1, expected_n)))
    return BloomParams(n_partitions, bits, min(k, 16))


def census_shard_loads(
    census: DataFrame, n_salts: int, n_partitions: int, n_sub: int = 1,
    host_col: str = "host", n_col: str = "n",
) -> DataFrame:
    """(pid, expected_n): each filter shard's expected entry count under
    ``host_salt_pid`` sharding, computed EXACTLY from a host census
    (host, n) — the (host, salt[, sub]) slices are enumerable because the
    salt values are just 0..n_salts-1 and the pid is a pure hash of
    (host, salt[, sub]); only the split of a host's n across its slices
    is approximated as uniform (true in expectation: the salt is a uri
    hash).  The census is the same per-host frequency table the
    scheduler's politeness phase already aggregates, so this costs one
    tiny groupBy + a hosts×n_salts explode, never a pass over the uris."""
    slices = [F.col("salt").cast("long")]
    ex = census.select(
        F.col(host_col).alias("host"),
        (F.col(n_col) / (n_salts * n_sub)).alias("slice_n"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
    )
    if n_sub > 1:
        ex = ex.select(
            "host", "slice_n", "salt",
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub"),
        )
        slices.append(F.col("sub").cast("long"))
    # MUST match host_salt_pid byte-for-byte: same literal seed, same
    # argument order, same long types (xxhash64 of int != of long)
    pid = F.pmod(
        F.xxhash64(F.lit("pid"), F.col("host"), *slices), F.lit(n_partitions)
    ).cast("int")
    return (
        ex.groupBy(pid.alias("pid"))
        .agg(F.ceil(F.sum("slice_n")).cast("long").alias("expected_n"))
    )


def bloom_params_auto(
    census: DataFrame, fpp: float = 0.01, n_partitions: int = 64,
    n_salts: int = 8, n_sub: int = 1,
    host_col: str = "host", n_col: str = "n",
):
    """BloomParams sized so the HOTTEST shard —
    not the mean one — stays at nominal FPP.

    ``bloom_params`` assumes uniform shard load; under host_salt_pid
    sharding a hot host concentrates its whole seen-set slice on
    n_salts×n_sub shards, and a shard loaded past its sizing degrades
    toward FPP 1 (see bloom_params' note).  This derives each shard's
    expected load from the host census the scheduler already computes
    (census_shard_loads), takes the max, and sizes every shard for it —
    trading a bounded memory factor (max/mean load, typically < 3 even
    at 10% single-host skew) for a per-shard FPP that holds under the
    skew instead of silently saturating.  The skew test locks per-shard
    FPP ≤ 2× nominal on a 10%-hot-host input."""
    max_load = (
        census_shard_loads(census, n_salts, n_partitions, n_sub, host_col, n_col)
        .agg(F.max("expected_n"))
        .collect()[0][0]
    )
    return bloom_params(int(max_load or 1) * n_partitions, fpp, n_partitions)


def empty_bloom(spark: SparkSession, n_partitions: int, bits: int) -> DataFrame:
    zero = [0] * (bits // 64)
    rows = [(p, zero) for p in range(n_partitions)]
    return spark.createDataFrame(rows, schema=BLOOM_SCHEMA)


def salt_col(uri_col: str = "uri", n_salts: int = 8) -> F.Column:
    """The politeness salt — a pure function of the canonical uri, the one
    definition behind politeness.schedule, the scheduling pipeline
    (sched_pipeline.py re-exports this) and the (host, salt)-derived
    filter-shard pid below (census_shard_loads enumerates its values and
    must hash them the same way)."""
    return F.pmod(F.xxhash64(F.lit("sched"), F.col(uri_col)), F.lit(n_salts))


def host_salt_pid(
    host_col: str, uri_col: str, n_salts: int, n_partitions: int,
    n_sub: int = 1,
) -> F.Column:
    """Filter-shard pid derived from the SAME (host, salt) key the seen
    table is bucketed by at rest and the politeness phase-1 window
    partitions by.  With this pid the 10^10-regime probe's shuffle IS the
    scheduling exchange: the cogroup kernel can pre-cut each shard's
    (host, salt) slice for politeness and no second candidate-sized
    exchange exists (the round-2 plan paid two — uri-hash pid probe +
    (host, salt) window — and measured 0.706 scaling).

    ``n_sub`` splits each (host, salt) group across n_sub shards (a
    uri-hash sub-key inside the pid): a host holding p% of candidates
    caps its largest shard at p/(n_salts×n_sub)% — the straggler lever
    for hot hosts (measured: whole 10%-hot-host groups made the 4N level
    wait on ~2.6x tasks).  The kernel's per-shard budget cut then keeps
    ≤ budget × n_sub rows per (host, salt) — still a superset of the
    exact top-budget (any row in the true per-(host,salt) top-budget
    ranks ≤ budget inside its own sub-slice too), and the downstream
    ranking window restores exactness.

    ``n_sub`` also divides the hot host's BLOOM-shard load: each shard
    stores that host's seen fingerprints too, so a saturated hot shard
    (see bloom_params' sizing note) is relieved by the same lever.
    Measured at 10% skew the scheduling side was NET NEGATIVE for
    n_sub>1 (anti-join survivors grew 14M -> 26M), so the default stays
    1 — flip it only when a hot shard's FPP, not task skew, is the
    bottleneck."""
    key = [F.lit("pid"), F.col(host_col), salt_col(uri_col, n_salts)]
    if n_sub > 1:
        key.append(F.pmod(F.xxhash64(F.lit("sub"), F.col(uri_col)), F.lit(n_sub)))
    return F.pmod(F.xxhash64(*key), F.lit(n_partitions)).cast("int")


def _indices(h1: np.ndarray, h2: np.ndarray, k: int, bits: int) -> np.ndarray:
    """(len, k) bit indices; mirrors the Catalyst expression exactly.
    h1/h2 arrive already reduced to 31 bits by with_hashes, so
    h1 + i*h2 < 2^36 — no overflow in either engine."""
    ks = np.arange(k, dtype=np.int64)
    return (
        h1.astype(np.int64)[:, None] + ks[None, :] * h2.astype(np.int64)[:, None]
    ) % np.int64(bits)


def cogroup_regime(params) -> bool:
    """True when the filter is too big to broadcast (the 10^10 sizing):
    the one probe-regime choice, for either kind."""
    return params.nbytes > BROADCAST_BLOOM_MAX_BYTES


def table_params(table: DataFrame, n_partitions: int, size: int, k: int = 0):
    """The params of filter ``table``, whose own column names its kind:
    ``buckets`` is cuckoo (``size`` = buckets per shard), ``words`` Bloom
    (``size`` = bits per shard, ``k`` hashes)."""
    if "buckets" in table.columns:
        from webindex_spark.operators.cuckoo import CuckooParams

        return CuckooParams(n_partitions, size)
    return BloomParams(n_partitions, size, k)


def np_member(params, cdf: pd.DataFrame, tdf: pd.DataFrame) -> np.ndarray:
    """The kind's numpy membership test of one cogrouped shard's hashed
    candidates ``cdf`` against its filter row ``tdf`` (none: all False)."""
    if len(tdf) == 0:
        return np.zeros(len(cdf), dtype=bool)
    table = np.asarray(tdf[params.column].iloc[0], dtype=np.int64).view(np.uint64)
    return params.np_test(table, cdf)


def touched_shards(table: DataFrame, cand: DataFrame) -> DataFrame:
    """The rows of filter ``table`` that the hashed batch ``cand`` lands
    on: a broadcast semi-join on pid, so the table is scanned, never
    shuffled — the input of an O(delta) (``delta_only``) insert."""
    return table.join(F.broadcast(cand.select("pid").distinct()), "pid", "left_semi")


def filter_probe(
    candidates: DataFrame, table: DataFrame, uri_col: str, params,
    pid_expr: F.Column | None = None,
) -> DataFrame:
    """candidates + boolean ``maybe_seen``. Physical mode by filter size."""
    if cogroup_regime(params):
        return _probe_cogroup(candidates, table, uri_col, params, pid_expr)
    return _probe_jvm(candidates, table, uri_col, params, pid_expr)


def bloom_probe(
    candidates: DataFrame, bloom: DataFrame, uri_col: str, k: int, bits: int,
    n_partitions: int, pid_expr=None,
) -> DataFrame:
    """filter_probe of a Bloom table."""
    return filter_probe(
        candidates, bloom, uri_col, BloomParams(n_partitions, bits, k), pid_expr
    )


def _probe_jvm(
    candidates: DataFrame, table: DataFrame, uri_col: str, params,
    pid_expr: F.Column | None = None,
) -> DataFrame:
    """Pure-Catalyst probe: broadcast join on pid + the kind's test in
    codegen.  No shuffle (broadcast), no Python."""
    cand = params.with_hashes(candidates, uri_col, pid_expr)
    j = cand.join(F.broadcast(table), "pid", "left")
    maybe = F.when(F.col(params.column).isNull(), F.lit(False)).otherwise(
        params.jvm_test()
    )
    return j.withColumn("maybe_seen", maybe).drop(
        "pid", *params.hash_cols, params.column
    )


def _probe_cogroup(
    candidates: DataFrame, table: DataFrame, uri_col: str, params,
    pid_expr: F.Column | None = None,
) -> DataFrame:
    """Shuffle-cogroup probe for filters too large to broadcast."""
    cand = params.with_hashes(candidates, uri_col, pid_expr)
    fields = [f for f in cand.schema.fields if f.name not in params.hash_cols]
    cols = [f.name for f in fields]

    def probe(key, cdf: pd.DataFrame, tdf: pd.DataFrame) -> pd.DataFrame:
        out = cdf[cols].copy()
        out["maybe_seen"] = np_member(params, cdf, tdf)
        return out

    out_schema = T.StructType(
        fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    return (
        cand.groupBy("pid")
        .cogroup(table.groupBy("pid"))
        .applyInPandas(probe, schema=out_schema)
        .drop("pid")
    )


def bloom_insert(
    uris: DataFrame, bloom: DataFrame, uri_col: str, k: int, bits: int,
    n_partitions: int, pid_expr=None, delta_only: bool = False,
) -> DataFrame:
    """Returns the updated bloom table.

    ``delta_only=False`` (default): all n_partitions rows present — the
    full updated filter.  ``delta_only=True``: ONLY the shards the batch
    touched are computed and returned — the O(delta) commit shape.  A
    crawl epoch inserts a delta-sized uri batch that lands on a bounded
    set of (host, salt) shards; recomputing and rewriting the other
    ~n_partitions bitmap rows every epoch is O(filter) write volume per
    tick (the reference touches only dirtied buckets,
    UriCombineQ.java:87-90).  The touched slice is ``touched_shards``;
    the caller commits the result as a ``mode="merge"`` snapshot keyed
    on pid (read() reconciles max-sequence per shard) and unions it with
    the untouched rows when it needs the full filter in the same job
    (frontier.run_epoch).

    ``uris`` may carry extra columns (e.g. host, when ``pid_expr``
    derives the shard from it); only pid/h1/h2 feed the kernel."""
    cand = BloomParams(n_partitions, bits, k).with_hashes(
        uris, uri_col, pid_expr
    ).select("pid", "h1", "h2")
    if delta_only:
        bloom = touched_shards(bloom, cand)

    def insert(key, cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        if len(bdf):
            words = np.asarray(bdf["words"].iloc[0], dtype=np.int64).view(np.uint64).copy()
        else:
            words = np.zeros(bits // 64, dtype=np.uint64)
        if len(cdf):
            idx = _indices(cdf["h1"].to_numpy(), cdf["h2"].to_numpy(), k, bits).ravel()
            np.bitwise_or.at(words, idx >> 6, np.uint64(1) << (idx & 63).astype(np.uint64))
        return pd.DataFrame({"pid": [pid], "words": [words.view(np.int64).tolist()]})

    return (
        cand.groupBy("pid")
        .cogroup(bloom.groupBy("pid"))
        .applyInPandas(insert, schema=BLOOM_SCHEMA)
    )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    table: DataFrame | None,
    uri_col: str = "uri",
    *,
    params,
    pid_expr: F.Column | None = None,
    mat: Materializer | None = None,
) -> DataFrame:
    """The two-tier unseen filter, for either filter kind (``params``).

    Definitely-new candidates (filter miss) pass straight through; only
    the maybe-seen slice pays the anti-join against the exact seen table.
    Without a filter table (None) everything takes the exact tier.

    Both union branches read the probe.  The broadcast regime's JVM probe
    recomputes for free.  The cogroup regime's Python kernel is cut
    through ``mat``, the caller's ``Materializer`` scope, so the cut is
    released with the caller's unit of work (without one, an unowned
    ``Materializer()`` whose cut the context cleaner reclaims).  One job
    stores the cut at once, as an eager cut does: left lazy, the two
    branches' tasks of one shard can run at once on two executors and
    each run the kernel.
    """
    if table is None:
        return candidates.join(seen.select(uri_col), uri_col, "left_anti")
    probed = filter_probe(candidates, table, uri_col, params, pid_expr)
    if cogroup_regime(params):
        probed = (mat or Materializer())(probed)
        probed.write.format("noop").mode("overwrite").save()
    fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(seen.select(uri_col), uri_col, "left_anti")
    return fresh.unionByName(confirmed_new)
