"""Per-host politeness scheduling (north-rule core; SURVEY.md §7.2 M3).

Semantics (the model the tests replay in pure python): each epoch every
host may fetch at most ``budget`` URLs; within a host, URLs are taken in
(priority DESC, uri ASC) order — ordering decided entirely by data, never
by partition count or task arrival, so the crawl order is identical at
local[1], local[32], or 1000 executors.  The i-th scheduled URL of a host
fires at ``tick = i * crawl_delay`` (the token-bucket restatement of the
reference's per-partition Guava RateLimiter, LoadHdfs.java:85,101).

Skew handling is explicit (the north rule demands it): a single hot host
(90% of a crawl frontier pointing at one CDN is normal) would otherwise
funnel its entire candidate set through one task in the ranking window.
We use the salted two-phase top-k:

  phase 1: rank within (host, salt = xxhash64(uri) % n_salts), keep the
           per-salt top-``budget`` — a window over a key with n_salts×
           more distinct values, so the hot host's rows spread across
           n_salts tasks and everyone else's tiny groups are unaffected;
  phase 2: exact rank over the survivors (≤ n_salts × budget rows per
           host — bounded, tiny) and keep the true top-``budget``.

Phase 1 never discards a row that the exact ranking would keep (any
global top-B row is also top-B within its salt), so the result is
*identical* to the naive single window — just without the straggler.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from webindex_spark.operators.seen import salt_col


def ranked_slots(
    salted: DataFrame,
    budget: int,
    host_col: str = "host",
    uri_col: str = "uri",
    priority_col: str = "priority",
    delay_col: str = "crawl_delay",
    salt_name: str = "__salt",
) -> DataFrame:
    """The shared two-phase ranking core over an already-salted input —
    THE implementation behind both the production epoch path
    (:func:`schedule`, called by frontier.run_epoch) and the fused
    scheduling pipeline (sched_pipeline.schedule_frontier), so the plan
    the scaling benchmark certifies is the plan the crawl runs.

    Physical shape: exactly TWO hash exchanges — the phase-1
    (host, salt) window over the full input and the phase-2 host window
    over ≤ n_salts × budget survivors per host (locked by
    tests/test_sched_pipeline.py exchange-count assertions).  When the
    input is already partitioned by (host, salt) — the fused pipeline's
    single up-front exchange, or an at-rest-bucketed frontier table on
    Iceberg — phase 1 reuses it and only the survivor exchange remains.
    """
    order = [F.desc(priority_col), F.asc(uri_col)]
    w1 = Window.partitionBy(host_col, salt_name).orderBy(*order)
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= budget)
        .drop(salt_name, "__r1")
    )
    w2 = Window.partitionBy(host_col).orderBy(*order)
    return (
        survivors.withColumn("slot", F.row_number().over(w2).cast("long") - 1)
        .where(F.col("slot") < budget)
        .withColumn("tick", (F.col("slot") * F.col(delay_col)).cast("double"))
    )


def schedule(
    frontier: DataFrame,
    budget: int,
    n_salts: int = 8,
    host_col: str = "host",
    uri_col: str = "uri",
    priority_col: str = "priority",
    delay_col: str = "crawl_delay",
) -> DataFrame:
    """Pick ≤ budget URLs per host, assign ``slot`` (0-based fetch order
    within host/epoch) and ``tick`` (= slot * crawl_delay)."""
    salted = frontier.withColumn("__salt", salt_col(uri_col, n_salts))
    return ranked_slots(
        salted, budget, host_col, uri_col, priority_col, delay_col, "__salt"
    )
