"""compact_every tradeoff sweep (round-5 verdict ask 7).

Merge-mode commits keep each epoch O(delta), but the segment chain grows
one data segment (plus tombstone keys) per epoch and every reconciled
read pays the merge-on-read join over the whole chain.  ``compact()``
folds the chain to one segment at O(state) cost.  This sweeps the policy
knob: N epochs of realistic uri_counts ticks (touched-slice semi ->
merge_uri_counts -> merge commit, 100k-row deltas against 10M-row state)
under compact_every in {0, 2, 5, 10}, measuring

  * tick_secs   — per-epoch update+commit (includes the state read the
                  touched-slice semi performs, so read amplification
                  shows up HERE, where the crawl actually pays it);
  * compact_secs — the amortized fold cost when the policy fires;
  * read_secs   — a full reconciled read-back per epoch (the query-side
                  price, e.g. the webserver or an export job).

Usage: python tools/bench_compact.py [--quick]
Emits one JSON line; the chosen default + rationale land in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyspark.sql.functions as F

sys.path.insert(0, ".")

from webindex_spark.session import get_spark  # noqa: E402
from webindex_spark.sources.snapshots import Catalog  # noqa: E402
from tools.bench_odelta import gen_uri_counts, _count_hash  # noqa: E402


def epoch_delta(spark, n_delta, e):
    """Epoch-varying delta: half updates to existing keys, half new keys
    unique to the epoch, a slice of zero-outs (delete keys)."""
    return spark.range(n_delta).select(
        F.when(
            F.col("id") % 2 == 0,
            F.concat(F.lit("com.h>>o>/p/"), ((F.col("id") + e * 977) * 7).cast("string")),
        ).otherwise(
            F.concat(F.lit(f"com.new>>o>/x{e}/"), F.col("id").cast("string"))
        ).alias("uri"),
        F.when(F.col("id") % 20 == 0, F.lit(-1)).otherwise(F.lit(3))
        .cast("long").alias("d_links"),
        F.lit(0).cast("long").alias("d_docs"),
    ).localCheckpoint(eager=True)


def run_policy(spark, root, state_df, n_epochs, n_delta, every):
    from webindex_spark.operators import delta as delta_ops

    cat = Catalog(os.path.join(root, f"ce-{every}"))
    t = cat.table("uri_counts")
    t.commit(state_df, epoch=0)
    ticks, compacts, reads = [], [], []
    for e in range(1, n_epochs + 1):
        deltas = epoch_delta(spark, n_delta, e)
        t0 = time.monotonic()
        sliced = t.read(spark).join(
            F.broadcast(deltas.select("uri")), "uri", "left_semi"
        )
        changes = delta_ops.merge_uri_counts(sliced, deltas).localCheckpoint(eager=True)
        ups, keys, dels = delta_ops.uri_counts_commit(changes)
        t.commit(ups, epoch=e, mode="merge", merge_keys=keys, deletes=dels)
        ticks.append(time.monotonic() - t0)
        if every and e % every == 0:
            t0 = time.monotonic()
            t.compact(spark)
            compacts.append(time.monotonic() - t0)
        t0 = time.monotonic()
        t.read(spark).write.format("noop").mode("overwrite").save()
        reads.append(time.monotonic() - t0)
    n, h = _count_hash(t.read(spark))
    r = lambda xs: round(sum(xs) / max(1, len(xs)), 2)  # noqa: E731
    return {
        "compact_every": every,
        "avg_tick_secs": r(ticks), "last_tick_secs": round(ticks[-1], 2),
        "n_compactions": len(compacts),
        "avg_compact_secs": r(compacts),
        "compact_total_secs": round(sum(compacts), 2),
        "avg_read_secs": r(reads), "last_read_secs": round(reads[-1], 2),
        "epoch_total_secs": round(
            (sum(ticks) + sum(compacts) + sum(reads)) / len(ticks), 2
        ),
        "rows": n, "content_hash": h,
    }


def main():
    quick = "--quick" in sys.argv
    state_n = 2_000_000 if quick else 10_000_000
    n_delta = 20_000 if quick else 100_000
    n_epochs = 6 if quick else 12
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    root = tempfile.mkdtemp(prefix="compact-", dir=base)
    spark = get_spark("bench-compact", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"metric": "compact_every_sweep", "state_rows": state_n,
           "delta_rows": n_delta, "n_epochs": n_epochs, "results": []}
    try:
        state = gen_uri_counts(spark, state_n).localCheckpoint(eager=True)
        # warmup tick so JIT/writer init doesn't land on the first policy
        run_policy(spark, root, gen_uri_counts(spark, 100_000)
                   .localCheckpoint(eager=True), 2, 5_000, 0)
        hashes = set()
        for every in (0, 2, 5, 10):
            res = run_policy(spark, root, state, n_epochs, n_delta, every)
            hashes.add((res["rows"], res["content_hash"]))
            out["results"].append(res)
            print(f"# compact_every={every}: tick {res['avg_tick_secs']}s "
                  f"(last {res['last_tick_secs']}), read {res['avg_read_secs']}s "
                  f"(last {res['last_read_secs']}), compact x{res['n_compactions']} "
                  f"avg {res['avg_compact_secs']}s, per-epoch total "
                  f"{res['epoch_total_secs']}s", file=sys.stderr)
        assert len(hashes) == 1, hashes  # policy never changes the state
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
