"""Fused frontier-scheduling pipeline: one candidate exchange, reused.

The round-1 composite (seen.filter_unseen -> robots.apply_robots ->
politeness.schedule) was plan-correct stage by stage but paid THREE
shuffle exchanges of frontier-sized data:

  1. the exact-tier anti-join shuffled the maybe-seen slice by ``uri``;
  2. the phase-1 politeness window shuffled everything by (host, salt)
     — and the two-tier union upstream erased partitioning info, so this
     exchange was unavoidable and the union's branches each re-computed
     the candidate scan;
  3. the phase-2 window shuffled the survivors by host.

Measured N->4N scaling efficiency of that composite was 0.69 (the
exchanges are the part of the job that does NOT scale with cores —
cross-executor fetch shares one memory bus here, one network fabric on a
real cluster).  This module restates the same semantics around a SINGLE
up-front exchange:

  * candidates are salted and hash-partitioned ONCE by (host, __salt) —
    the politeness phase-1 key;
  * the **seen table is co-partitioned at rest** by the same derivable
    key (host + salt are pure functions of the canonical uri — this is
    the local model of an Iceberg ``bucket(...)`` table layout, see
    partition_for_schedule);
  * the exact-tier LEFT ANTI join then needs NO exchange: join keys
    (uri, host, __salt) are a superset of the partitioning key, so both
    sides are already co-located; a shuffle_hash hint avoids sorting the
    big side;
  * the phase-1 window's ClusteredDistribution((host, __salt)) is
    satisfied by the same exchange — NO new shuffle;
  * only the phase-2 exact-rank window (over the per-salt survivors,
    <= n_salts x budget rows per host) pays a second, much smaller
    exchange.

Equivalence: anti-join on (uri, host, salt) == anti-join on uri because
host/salt are functions of uri; the salted two-phase ranking is the same
phase-1-never-discards argument as politeness.schedule (its docstring).

Filter tier (Bloom or cuckoo; the filter table's column names the kind
and seen.py picks the regime): with a broadcastable filter the anti-join
above is already exchange-free, so a pre-probe would add per-row hash
work and prune nothing — the fused path therefore probes only in cogroup
mode (filter too big to broadcast, the 10^10 sizing).  There the filter
shards are keyed by the SAME (host, salt) buckets (seen.host_salt_pid),
so the probe's shuffle IS the scheduling exchange: the cogroup kernel
runs the kind's numpy test and the phase-1 politeness pre-rank together,
and everything after it — the maybe-slice anti-join against the
at-rest-bucketed seen table and the final ranking windows — is
survivor-sized.  One candidate-sized exchange in BOTH regimes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from webindex_spark.operators import robots as robots_ops
from webindex_spark.operators import seen as seen_ops
from webindex_spark.operators.seen import salt_col  # shared salt definition

SALT_COL = "__salt"


def partition_for_schedule(
    df: DataFrame,
    uri_col: str = "uri",
    host_col: str = "host",
    n_salts: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Hash-partition by (host, salt) — THE exchange the fused pipeline
    reuses.  Applied to the seen table this models its at-rest layout
    (Iceberg: ``PARTITIONED BY (bucket(N, host), salt)``); appends land
    in the same buckets, so a real deployment pays this shuffle never —
    it is the write-side layout, not a per-epoch cost."""
    salted = df.withColumn(SALT_COL, salt_col(uri_col, n_salts))
    cols = [F.col(host_col), F.col(SALT_COL)]
    if num_partitions:
        return salted.repartition(num_partitions, *cols)
    return salted.repartition(*cols)


def _probe_prerank_cogroup(
    candidates: DataFrame,
    table: DataFrame,
    budget: int,
    *,
    uri_col: str,
    host_col: str,
    n_salts: int,
    params,
    n_sub: int = 1,
) -> DataFrame:
    """Fused Arrow kernel for the too-big-to-broadcast filter regime:
    per (host, salt)-derived shard, run the filter kind's numpy probe
    (``params.np_test`` through seen.np_member — Bloom bits or cuckoo
    fingerprint lanes, whichever kind ``params`` is) AND the phase-1
    politeness pre-rank of the fresh rows in one pass.  The filter table
    must be built with the SAME host_salt_pid (``insert(pid_expr=...)``);
    the scheduling semantics downstream are filter-blind — the tier only
    decides which rows take the exact anti-join.

    Output: candidate columns + ``__salt`` + ``maybe_seen``; fresh rows
    are already cut to ≤ budget per shard-local (host, salt) slice
    (safe: a row in the exact top-budget of its host ranks ≤ budget
    within its (host, salt) slice among ALL unseen rows, hence also
    among the fresh subset — the same never-discards argument as
    politeness.schedule's phase 1); maybe rows pass through un-ranked
    for the exact-tier anti-join.

    Skew: ``n_sub`` (host_salt_pid docstring) caps a hot host's largest
    shard at p/(n_salts × n_sub)% of candidates at the cost of keeping
    ≤ budget × n_sub fresh rows per (host, salt); the downstream
    ranking windows restore exactness.  The filter MUST be built with
    the same (n_salts, n_sub, n_partitions) pid."""
    pid = seen_ops.host_salt_pid(
        host_col, uri_col, n_salts, params.n_partitions, n_sub
    )
    salted = candidates.withColumn(SALT_COL, salt_col(uri_col, n_salts))
    cand = params.with_hashes(salted, uri_col, pid_expr=pid)
    fields = [
        f for f in cand.schema.fields if f.name not in (*params.hash_cols, "pid")
    ]
    cols = [f.name for f in fields]
    out_schema = T.StructType(
        fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def kernel(key, cdf: pd.DataFrame, tdf: pd.DataFrame) -> pd.DataFrame:
        maybe = seen_ops.np_member(params, cdf, tdf)
        # Fresh-row pre-cut as a pure-numpy THRESHOLD mask — no pandas
        # string sort, no concat, no row reordering (the original
        # sort_values over object-dtype uris dominated kernel CPU).
        # Keep a fresh row iff its priority >= the budget-th largest
        # priority of its (host, salt) group, ties INCLUSIVE — a safe
        # superset of the exact top-budget (never discards a row the
        # exact per-(host,salt) window would keep; that window re-ranks
        # the survivors exactly downstream).  Degenerate-case note: with
        # near-constant priorities the tie set IS the group, so the cut
        # degrades gracefully to a pass-through — still correct, but the
        # downstream window input grows toward candidate-sized; crawls
        # with flat priorities should widen them (e.g. + a uri-hash
        # epsilon) before scheduling.
        keep = maybe.copy()
        fresh_idx = np.flatnonzero(~maybe)
        if fresh_idx.size:
            hcodes = pd.factorize(cdf[host_col].to_numpy())[0][fresh_idx]
            codes = hcodes * np.int64(n_salts) + cdf[SALT_COL].to_numpy()[fresh_idx]
            prio = cdf["priority"].to_numpy(dtype=np.float64)[fresh_idx]
            order = np.lexsort((-prio, codes))
            sc, sp = codes[order], prio[order]
            starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
            sizes = np.diff(np.r_[starts, sc.size])
            thr = sp[starts + np.minimum(sizes, budget) - 1]
            gid = np.cumsum(np.r_[False, sc[1:] != sc[:-1]])
            ok = np.empty(sc.size, dtype=bool)
            ok[order] = sp >= thr[gid]
            keep[fresh_idx] = ok
        return cdf.loc[keep, cols].assign(maybe_seen=maybe[keep])

    return (
        cand.groupBy("pid")
        .cogroup(table.groupBy("pid"))
        .applyInPandas(kernel, schema=out_schema)
    )


def schedule_frontier(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | None,
    robots: DataFrame,
    budget: int,
    n_salts: int = 8,
    *,
    k: int,
    bits: int,
    n_partitions: int,
    num_partitions: int | None = None,
    uri_col: str = "uri",
    host_col: str = "host",
    seen_prepartitioned: bool = False,
    keep_cols: list[str] | None = None,
    n_sub: int = 1,
) -> DataFrame:
    """candidates -> unseen -> robots-allowed -> per-host budget/slots.

    Returns the scheduled rows (candidate columns + allowed/crawl_delay +
    slot + tick), identical to
    ``politeness.schedule(apply_robots(filter_unseen(...)))`` but with
    the fused single-exchange physical plan (module docstring).

    ``bloom`` is the filter table of either kind: ``bits`` is its bits
    per Bloom shard (``words`` column, ``k`` hashes) or its buckets per
    cuckoo shard (``buckets`` column; ``k`` unused).

    ``seen`` must carry (uri_col, host_col).  Pass
    ``seen_prepartitioned=True`` when it already has the
    partition_for_schedule layout (the at-rest case).

    ``keep_cols`` limits which extra candidate columns ride through the
    exchanges (default: all of them).  The pipeline itself needs only
    (uri, host, path->gate, priority); every byte beyond that is paid in
    the big exchange and both window sorts, so callers that only need the
    schedule should pass ``keep_cols=[]``.

    Physical ordering (all semantics-preserving commutes, measured wins):
      * robots gate FIRST — a broadcast join + filter before the exchange
        removes blocked rows AND lets ``path`` (gate-only) be projected
        away before any shuffle;
      * then the slim projection, the (host, salt) exchange, the
        co-partitioned anti-join, and the two windows.
    """
    keep = keep_cols if keep_cols is not None else [
        c for c in candidates.columns
        if c not in (uri_col, host_col, "path", "priority", "crawl_delay", "allowed")
    ]
    gated = robots_ops.apply_robots(candidates, robots, host_col=host_col)
    allowed = gated.where(F.col("allowed")).select(
        uri_col, host_col, "priority", "crawl_delay", *keep
    )

    # the filter table's own column names its kind (seen.table_params);
    # seen decides the regime
    params = (
        None if bloom is None
        else seen_ops.table_params(bloom, n_partitions, bits, k)
    )
    cogroup_mode = (
        params is not None and seen is not None
        and seen_ops.cogroup_regime(params)
    )

    # the seen side of the exact anti-join, on the (host, salt) layout
    # both regimes share
    if seen is None:
        s = None
    elif seen_prepartitioned and SALT_COL in seen.columns:
        s = seen.select(uri_col, host_col, SALT_COL)
    elif seen_prepartitioned:
        s = seen.select(uri_col, host_col).withColumn(
            SALT_COL, salt_col(uri_col, n_salts)
        )
    else:
        s = partition_for_schedule(
            seen.select(uri_col, host_col), uri_col, host_col,
            n_salts, num_partitions,
        )

    if cogroup_mode:
        # 10^10 sizing, ONE candidate-sized exchange total: the filter
        # shards are keyed by host_salt_pid — the SAME (host, salt)
        # buckets the seen table uses at rest and the politeness windows
        # partition by — so every (host, salt) group arrives whole at its
        # shard and the cogroup kernel does BOTH the numpy filter probe and
        # the phase-1 politeness pre-rank of the definitely-fresh rows
        # (≤ budget per (host, salt) survive).  Everything downstream is
        # survivor- or maybe-sized: the maybe slice (hit rate + fpp)
        # anti-joins the at-rest-bucketed seen table (its small side
        # shuffles; seen does not), and the final windows rank the small
        # union.  Round-2's plan paid TWO candidate-sized exchanges here
        # (uri-hash probe pid + window re-key) and measured 0.706 N->4N
        # scaling; the filter table MUST be built with the same
        # host_salt_pid (insert(pid_expr=...)).
        out = _probe_prerank_cogroup(
            allowed, bloom, budget, uri_col=uri_col, host_col=host_col,
            n_salts=n_salts, params=params, n_sub=n_sub,
        )
        # ONE consumer, no checkpoint: every kernel output row flows into
        # the same anti-join.  The filter has no false negatives, so a
        # definitely-fresh row (maybe_seen = false) can never match the
        # seen table — the anti-join is an exact no-op for it — while the
        # maybe slice is filtered exactly.  The earlier fresh/maybe
        # branch pair made the kernel feed two stages, which recomputed
        # the whole Python kernel per stage under a lazy checkpoint
        # (measured N->4N collapse to ~0.5 with 4N passes swinging 2x)
        # and cost ~1 GB of block storage per pass under an eager one.
        unseen = out.drop("maybe_seen")
    else:
        # broadcast-filter regime: the exact anti-join is exchange-free on
        # the shared (host, salt) partitioning, so a bloom pre-probe would
        # prune nothing (every candidate continues into the windows either
        # way) — the exact tier alone is the optimal plan here
        unseen = partition_for_schedule(
            allowed, uri_col, host_col, n_salts, num_partitions
        )
    if s is not None:
        # NOTE: plain sort-merge, no shuffle_hash hint — SHJ's required
        # distribution rejects subset co-partitioning and re-shuffles
        # the big side on the full join keys (measured); SMJ accepts
        # the (host, salt) partitioning, and its in-partition sorts are
        # CPU that scales with cores, unlike an exchange.
        unseen = unseen.join(s, [uri_col, host_col, SALT_COL], "left_anti")

    from webindex_spark.operators import politeness

    return politeness.ranked_slots(
        unseen, budget, host_col=host_col, uri_col=uri_col, salt_name=SALT_COL
    )
