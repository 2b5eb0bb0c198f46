"""Fused frontier-scheduling pipeline (operators/sched_pipeline.py):
result-equivalence with the unfused operator chain, and the physical-plan
property the fusion exists for (exchange reuse)."""

import pyspark.sql.functions as F

from webindex_spark.operators import (
    politeness,
    robots as robots_ops,
    sched_pipeline as sp,
    seen as seen_ops,
)


def _synth(spark, n=20_000, n_hosts=200):
    from webindex_spark.plans import bench_jobs

    frontier = bench_jobs.synth_frontier(spark, n, n_hosts)
    robots = bench_jobs.synth_robots(spark, n_hosts)
    pre_seen = frontier.where(
        F.pmod(F.xxhash64(F.lit("seen"), F.col("uri")), F.lit(4)) == 0
    ).select("uri", "host")
    return frontier, robots, pre_seen


def _unfused(frontier, robots, pre_seen, bloom, budget, n_salts, bp):
    unseen = seen_ops.filter_unseen(
        frontier, pre_seen.select("uri"), bloom, "uri", params=bp
    )
    gated = robots_ops.apply_robots(unseen, robots).where(F.col("allowed"))
    return politeness.schedule(gated, budget=budget, n_salts=n_salts)


def test_fused_equals_unfused_all_modes(spark):
    """Same (uri, slot, tick) set as the unfused chain, in every physical
    mode: exact-only, broadcast-bloom, prepartitioned seen, n_salts=1."""
    frontier, robots, pre_seen = _synth(spark)
    budget = 7
    bp = seen_ops.bloom_params(20_000, 0.01, 8)
    n_parts, bits, k = bp
    bloom = seen_ops.bloom_insert(
        pre_seen.select("uri"), seen_ops.empty_bloom(spark, n_parts, bits),
        "uri", k, bits, n_parts,
    ).localCheckpoint()

    for n_salts in (1, 4):
        want = {
            (r["uri"], r["slot"], r["tick"])
            for r in _unfused(
                frontier, robots, pre_seen, bloom, budget, n_salts, bp
            ).collect()
        }
        variants = {
            "no-bloom": sp.schedule_frontier(
                frontier, pre_seen, None, robots, budget, n_salts=n_salts,
                k=k, bits=bits, n_partitions=n_parts, num_partitions=8,
            ),
            "bloom": sp.schedule_frontier(
                frontier, pre_seen, bloom, robots, budget, n_salts=n_salts,
                k=k, bits=bits, n_partitions=n_parts, num_partitions=8,
            ),
            "at-rest-seen": sp.schedule_frontier(
                frontier,
                sp.partition_for_schedule(
                    pre_seen, n_salts=n_salts, num_partitions=8
                ).localCheckpoint(),
                bloom, robots, budget, n_salts=n_salts,
                k=k, bits=bits, n_partitions=n_parts, num_partitions=8,
                seen_prepartitioned=True, keep_cols=[],
            ),
            "at-rest-seen-no-salt": sp.schedule_frontier(
                frontier,
                sp.partition_for_schedule(
                    pre_seen, n_salts=n_salts, num_partitions=8
                ).drop(sp.SALT_COL).localCheckpoint(),
                bloom, robots, budget, n_salts=n_salts,
                k=k, bits=bits, n_partitions=n_parts, num_partitions=8,
                seen_prepartitioned=True, keep_cols=[],
            ),
        }
        for tag, df in variants.items():
            got = {(r["uri"], r["slot"], r["tick"]) for r in df.collect()}
            assert got == want, (tag, n_salts, len(got), len(want))


def test_fused_reuses_single_exchange(spark):
    """With an at-rest-partitioned seen table the timed plan has exactly
    TWO hash exchanges (candidates, phase-2 survivors): the anti-join and
    the phase-1 window both reuse the candidate exchange."""
    frontier, robots, pre_seen = _synth(spark)
    bp = seen_ops.bloom_params(20_000, 0.01, 8)
    n_parts, bits, k = bp
    seen_ar = sp.partition_for_schedule(
        pre_seen, n_salts=4, num_partitions=8
    ).localCheckpoint()
    fused = sp.schedule_frontier(
        frontier, seen_ar, None, robots, 7, n_salts=4,
        k=k, bits=bits, n_partitions=n_parts, num_partitions=8,
        seen_prepartitioned=True, keep_cols=[],
    )
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_epoch_schedule_path_two_exchanges(spark):
    """run_epoch's scheduling chain (apply_robots -> politeness.schedule,
    frontier.py) ranks through the SAME politeness.ranked_slots core as
    the fused pipeline and its executed plan has exactly TWO hash
    exchanges (phase-1 full input, phase-2 survivors) — the robots gate
    broadcasts, adding none."""
    frontier, robots, _ = _synth(spark)
    gated = robots_ops.apply_robots(frontier, robots).where(F.col("allowed"))
    sched = politeness.schedule(gated, budget=7, n_salts=4)
    plan = sched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_cogroup_mode_two_tier(spark, monkeypatch):
    """Force the 10^10-sizing branch (fused cogroup probe+pre-rank kernel
    + maybe-slice anti-join) and check equivalence there too — the filter
    shards keyed by (host, salt) per the fused plan's contract."""
    monkeypatch.setattr(seen_ops, "BROADCAST_BLOOM_MAX_BYTES", 0)
    frontier, robots, pre_seen = _synth(spark, n=5_000, n_hosts=50)
    bp = seen_ops.bloom_params(5_000, 0.01, 4)
    n_parts, bits, k = bp
    for n_salts, n_sub in ((1, 1), (4, 1), (4, 3)):
        pid = seen_ops.host_salt_pid("host", "uri", n_salts, n_parts, n_sub)
        bloom = seen_ops.bloom_insert(
            pre_seen, seen_ops.empty_bloom(spark, n_parts, bits),
            "uri", k, bits, n_parts, pid_expr=pid,
        ).localCheckpoint()
        fused = sp.schedule_frontier(
            frontier, pre_seen, bloom, robots, 5, n_salts=n_salts,
            k=k, bits=bits, n_partitions=n_parts, num_partitions=8,
            n_sub=n_sub,
        )
        # the unfused comparator probes the same shard layout
        unseen = seen_ops.filter_unseen(
            frontier, pre_seen.select("uri"), bloom, "uri",
            params=bp, pid_expr=pid,
        )
        gated = robots_ops.apply_robots(unseen, robots).where(F.col("allowed"))
        want = {
            (r["uri"], r["slot"], r["tick"])
            for r in politeness.schedule(gated, budget=5, n_salts=n_salts).collect()
        }
        got = {(r["uri"], r["slot"], r["tick"]) for r in fused.collect()}
        assert got == want, n_salts


def test_cogroup_plan_single_candidate_exchange(spark, monkeypatch):
    """The fused 10^10-regime plan carries the full candidate stream
    through exactly ONE hash exchange (the (host,salt)-pid cogroup); the
    remaining exchanges are survivor/maybe/filter-sized.  Locked by
    counting the exchanges feeding the Arrow kernel."""
    monkeypatch.setattr(seen_ops, "BROADCAST_BLOOM_MAX_BYTES", 0)
    frontier, robots, pre_seen = _synth(spark, n=5_000, n_hosts=50)
    bp = seen_ops.bloom_params(5_000, 0.01, 4)
    n_parts, bits, k = bp
    pid = seen_ops.host_salt_pid("host", "uri", 4, n_parts)
    bloom = seen_ops.bloom_insert(
        pre_seen, seen_ops.empty_bloom(spark, n_parts, bits),
        "uri", k, bits, n_parts, pid_expr=pid,
    ).localCheckpoint()
    kernel_out = sp._probe_prerank_cogroup(
        robots_ops.apply_robots(frontier, robots).where("allowed")
        .select("uri", "host", "priority", "crawl_delay"),
        bloom, 5, uri_col="uri", host_col="host", n_salts=4, params=bp,
    )
    kplan = kernel_out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in kplan
    # candidate side + filter side of the cogroup — the ONLY exchanges
    # the full candidate stream (or the filter) ever crosses; everything
    # above the kernel is survivor/maybe-sized (ranking windows + the
    # anti-join whose seen side is at-rest partitioned)
    assert kplan.count("Exchange hashpartitioning") == 2, kplan
