"""Partitioned cuckoo-filter URL-seen tier (north rule: "partitioned
Bloom/cuckoo filters ... in vectorized pandas/Arrow UDFs").

The Bloom tier (operators/seen.py) is the default; this is the cuckoo
alternative with the property Bloom lacks — **deletion** — which a crawl
uses to un-mark URLs scheduled for re-fetch (content expiry) without
rebuilding the filter.

Layout mirrors the Bloom table: ``(pid:int, buckets:array<long>)`` — one
row per partition, each long packing ``SLOTS=4`` 16-bit fingerprints
(slot 0 in bits 0-15, ...).  Standard partial-key cuckoo hashing
(Fan et al., "Cuckoo Filter: Practically Better Than Bloom", CoNEXT'14):

  fp(x)  = 16-bit nonzero fingerprint
  i1(x)  = H(x) mod m
  i2(x)  = i1 XOR (g(fp) AND (m-1))        # m is a power of two, so the
                                           # XOR alternation is an
                                           # involution: alt(alt(i)) = i
  member = fp present in bucket i1 or i2

All hashing is ANSI-overflow-safe 31-bit arithmetic on ``xxhash64``
values, identical in the numpy kernels and the Catalyst test (the same
discipline as seen.py).  Inserts/deletes run as cogrouped Arrow batches
(one numpy kernel per filter partition, rows sorted by uri so the table
bytes are deterministic regardless of shuffle arrival order).

``CuckooParams`` is this kind's side of the seen-tier seam (seen.py owns
the rest): byte size, hash columns, the Catalyst and numpy lane tests
(element_at + shifts in whole-stage codegen; the same lanes in numpy),
empty table and insert.  seen.filter_probe picks the probe regime and
seen.filter_unseen runs the two tiers for this kind as for Bloom.

False-positive rate ~= 2 * SLOTS / 2^16 (~1.2e-4 at 16-bit fingerprints);
like the Bloom tier, the EXACT anti-join downstream makes false positives
a cost, never a correctness issue.  Deletion follows Fan et al. §3.3:
duplicate fingerprints are STORED (one copy per inserted item, up to the
2*SLOTS bucket-pair capacity), so deleting an inserted item removes
exactly one copy and never un-marks a different item that collided on the
same (fingerprint, bucket pair) — no false negatives for any item whose
inserts outnumber its deletes.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from webindex_spark.operators import seen as seen_ops

CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType(), False),
        T.StructField("buckets", T.ArrayType(T.LongType(), False), False),
    ]
)

SLOTS = 4
_FP_MASK = 0xFFFF
_G_MULT = 0x5BD1E995
_H31 = 1 << 31
MAX_KICKS = 500


class CuckooParams(NamedTuple):
    """The cuckoo kind's parts: ``m`` buckets of SLOTS fingerprints per
    shard."""

    n_partitions: int
    m: int

    column = "buckets"
    hash_cols = ("fp", "i1", "i2")

    @property
    def nbytes(self) -> int:
        return self.n_partitions * self.m * 8

    def with_hashes(
        self, df: DataFrame, uri_col: str, pid_expr: F.Column | None = None
    ) -> DataFrame:
        """``pid_expr`` overrides the shard id (default: uri hash) — the
        fused scheduling pipeline passes seen.host_salt_pid so the cuckoo
        shards live on the SAME (host, salt) buckets as the seen table and
        politeness windows (identical discipline to Bloom's)."""
        m = self.m
        c = F.col(uri_col)
        fp = F.pmod(F.xxhash64(F.lit("cfp"), c), F.lit(_FP_MASK)) + 1  # 1..65535
        g = F.pmod(fp * F.lit(_G_MULT), F.lit(_H31)).bitwiseAND(F.lit(m - 1))
        i1 = F.pmod(F.xxhash64(F.lit("ci"), c), F.lit(m))
        pid = (
            pid_expr
            if pid_expr is not None
            else F.pmod(
                F.xxhash64(F.lit("cpid"), c), F.lit(self.n_partitions)
            ).cast("int")
        )
        return (
            df.withColumn("pid", pid)
            .withColumn("fp", fp)
            .withColumn("i1", i1)
            .withColumn("i2", i1.bitwiseXOR(g))
        )

    def jvm_test(self) -> F.Column:
        """fp present in any lane of bucket i1 or i2, as Catalyst
        expressions over ``buckets``."""
        hit = F.lit(False)
        for idx in ("i1", "i2"):
            word = F.element_at(F.col("buckets"), F.col(idx).cast("int") + 1)
            for s in range(SLOTS):
                lane = F.shiftrightunsigned(word, 16 * s).bitwiseAND(F.lit(_FP_MASK))
                hit = hit | (lane == F.col("fp"))
        return hit

    def np_test(self, buckets: np.ndarray, cdf: pd.DataFrame) -> np.ndarray:
        """The same lane test in numpy over one shard's uint64 buckets."""
        fp = cdf["fp"].to_numpy().astype(np.uint64)
        hit = np.zeros(len(cdf), dtype=bool)
        for idx in ("i1", "i2"):
            w = buckets[cdf[idx].to_numpy()]
            for s in range(SLOTS):
                hit |= ((w >> np.uint64(16 * s)) & np.uint64(_FP_MASK)) == fp
        return hit

    def empty(self, spark: SparkSession) -> DataFrame:
        return empty_cuckoo(spark, self.n_partitions, self.m)

    def insert(
        self, uris: DataFrame, table: DataFrame, uri_col: str = "uri",
        pid_expr: F.Column | None = None, delta_only: bool = False,
    ) -> DataFrame:
        return cuckoo_insert(
            uris, table, uri_col, self.m, self.n_partitions, pid_expr, delta_only
        )


def cuckoo_params(expected_n: int, n_partitions: int = 64) -> CuckooParams:
    """CuckooParams(n_partitions, m buckets/partition). Sized for <= ~84%
    load (the practical cuckoo ceiling is ~95% at 4 slots); m is a power
    of two (the XOR alternation requires it)."""
    per_part = max(1, expected_n // n_partitions)
    m = 1
    while m * SLOTS * 0.84 < per_part:
        m *= 2
    return CuckooParams(n_partitions, max(m, 8))


def empty_cuckoo(spark: SparkSession, n_partitions: int, m: int) -> DataFrame:
    zero = [0] * m
    return spark.createDataFrame(
        [(p, zero) for p in range(n_partitions)], schema=CUCKOO_SCHEMA
    )


def _kernel_upsert(buckets: np.ndarray, fps: np.ndarray, i1s: np.ndarray,
                   i2s: np.ndarray, m: int, delete: bool) -> np.ndarray:
    """Sequential per-partition insert/delete (the kicking loop is
    inherently order-dependent; rows arrive pre-sorted for determinism)."""
    b = buckets.view(np.uint64).copy()

    def slot_fps(i):
        w = b[i]
        return [(int(w) >> (16 * s)) & _FP_MASK for s in range(SLOTS)]

    def put(i, s, fp):
        w = int(b[i]) & ~(_FP_MASK << (16 * s))
        b[i] = np.uint64(w | (int(fp) << (16 * s)))

    for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
        if delete:
            done = False
            for i in (i1, i2):
                for s, have in enumerate(slot_fps(i)):
                    if have == fp:
                        put(i, s, 0)
                        done = True
                        break
                if done:
                    break
            continue
        # NB: no presence check — duplicate fingerprints are stored, one
        # copy per inserted item (Fan et al. §3.2).  With a presence-skip,
        # two DIFFERENT items colliding on (fp, bucket pair) would share
        # one stored copy and deleting either would un-mark both — a false
        # negative for a still-inserted item.  Duplicates keep deletion
        # safe: delete removes exactly one copy, so the other item's copy
        # survives.  Capacity bound: ≤ 2*SLOTS copies of one (fp, pair)
        # fit; beyond that insert raises over-capacity (probability
        # ~(n/2^16/m)^8 — negligible at any sane load factor).
        placed = False
        for i in (i1, i2):
            for s, have in enumerate(slot_fps(i)):
                if have == 0:
                    put(i, s, fp)
                    placed = True
                    break
            if placed:
                break
        if placed:
            continue
        # kick: deterministic victim slot per attempt
        i, cur = i2, fp
        for attempt in range(MAX_KICKS):
            s = (cur + attempt) % SLOTS
            victim = slot_fps(i)[s]
            put(i, s, cur)
            cur = victim
            g = ((cur * _G_MULT) % _H31) & (m - 1)
            i = i ^ g
            for s2, have in enumerate(slot_fps(i)):
                if have == 0:
                    put(i, s2, cur)
                    cur = 0
                    break
            if cur == 0:
                break
        if cur != 0:
            raise RuntimeError(
                "cuckoo filter over capacity — resize expected_n upward"
            )
    return b.view(np.int64)


def _cogroup_apply(uris: DataFrame, table: DataFrame, uri_col: str, m: int,
                   n_partitions: int, delete: bool,
                   pid_expr: F.Column | None = None,
                   delta_only: bool = False) -> DataFrame:
    cand = CuckooParams(n_partitions, m).with_hashes(
        uris, uri_col, pid_expr
    ).select("pid", "fp", "i1", "i2", uri_col)
    if delta_only:
        # O(delta) commit shape (see seen.bloom_insert): only shards the
        # batch touches are read, updated, and returned, for a
        # mode="merge" commit keyed on pid
        table = seen_ops.touched_shards(table, cand)

    def upsert(key, cdf: pd.DataFrame, tdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        if len(tdf):
            buckets = np.asarray(tdf["buckets"].iloc[0], dtype=np.int64)
        else:
            buckets = np.zeros(m, dtype=np.int64)
        if len(cdf):
            # one copy per distinct uri per batch: duplicates WITHIN a
            # batch collapse (idempotent batch), duplicates ACROSS batches
            # are the caller's insert/delete-balance contract (multiset
            # semantics — the crawl inserts each uri exactly once)
            cdf = cdf.drop_duplicates(subset=[uri_col]).sort_values(uri_col)
            buckets = _kernel_upsert(
                buckets, cdf["fp"].to_numpy(), cdf["i1"].to_numpy(),
                cdf["i2"].to_numpy(), m, delete,
            )
        return pd.DataFrame({"pid": [pid], "buckets": [buckets.tolist()]})

    return (
        cand.groupBy("pid")
        .cogroup(table.groupBy("pid"))
        .applyInPandas(upsert, schema=CUCKOO_SCHEMA)
    )


def cuckoo_insert(uris: DataFrame, table: DataFrame, uri_col: str, m: int,
                  n_partitions: int, pid_expr: F.Column | None = None,
                  delta_only: bool = False) -> DataFrame:
    """Updated filter table (all n_partitions rows present; with
    ``delta_only`` only the touched shards — the O(delta) commit shape,
    see seen.bloom_insert).

    MULTISET CONTRACT (Fan et al. §3.2): duplicate fingerprints are
    stored, one copy per insert — that is what makes ``cuckoo_delete``
    collision-safe (deleting one of two same-fp items leaves the other
    findable).  The flip side: insertion is NOT idempotent across
    batches.  Re-inserting an already-present uri set consumes one slot
    per re-insert and an unbalanced caller eventually raises the
    over-capacity RuntimeError below (asserted in
    tests/test_cuckoo.py::test_reinsert_consumes_capacity).  Callers
    must keep inserts and deletes balanced per item — the crawl
    satisfies this structurally (each uri enters the seen set exactly
    once; duplicates WITHIN a batch collapse in ``_cogroup_apply``)."""
    return _cogroup_apply(
        uris, table, uri_col, m, n_partitions, delete=False,
        pid_expr=pid_expr, delta_only=delta_only,
    )


def cuckoo_delete(uris: DataFrame, table: DataFrame, uri_col: str, m: int,
                  n_partitions: int, pid_expr: F.Column | None = None,
                  delta_only: bool = False) -> DataFrame:
    """Remove the uris' fingerprints (exact for previously-inserted items
    — the capability the Bloom tier cannot offer)."""
    return _cogroup_apply(
        uris, table, uri_col, m, n_partitions, delete=True,
        pid_expr=pid_expr, delta_only=delta_only,
    )


def cuckoo_probe(candidates: DataFrame, table: DataFrame, uri_col: str,
                 m: int, n_partitions: int) -> DataFrame:
    """candidates + boolean ``maybe_seen`` (seen.filter_probe of a cuckoo
    table; the regime is seen's)."""
    return seen_ops.filter_probe(
        candidates, table, uri_col, CuckooParams(n_partitions, m)
    )
