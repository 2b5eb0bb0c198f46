"""Why ``snapshots.COMPACT_AT_MERGE_SEGMENTS`` is 2 (round-5 verdict ask 7).

Merge-mode commits keep each epoch O(delta), but the segment chain grows
one data segment (plus tombstone keys) per epoch and every reconciled
read pays the merge-on-read join over the whole chain.  ``compact()``
folds the chain to one segment at O(state) cost.  ``Catalog.commit_epoch``
folds a chain once it holds ``COMPACT_AT_MERGE_SEGMENTS`` merge segments;
this script measures that fold point.  It runs N epochs of realistic
uri_counts ticks (touched-slice semi -> merge_uri_counts -> merge commit,
100k-row deltas against 10M-row state), folding at 2, 5 or 10 merge
segments or never, and records

  * tick_secs   — per-epoch update+commit (includes the state read the
                  touched-slice semi performs, so read amplification
                  shows up HERE, where the crawl actually pays it);
  * compact_secs — the amortized fold cost when the chain is folded;
  * read_secs   — a full reconciled read-back per epoch (the query-side
                  price, e.g. the webserver or an export job).

The recorded run (BENCH/compact_r05.json, taken when the fold point was
an every-N-epochs setting, which is the same thing at one merge segment
per epoch) put the per-epoch total at 4.84 s folding at 2 against 8.03
at 5, 11.6 at 10 and 10.66 never, so the package folds at 2 and has no
setting for it.

Usage: python tools/bench_compact.py [--quick]
Emits one JSON line.
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


def run_policy(spark, root, state_df, n_epochs, n_delta, fold_at):
    from webindex_spark.operators import delta as delta_ops

    cat = Catalog(os.path.join(root, f"fold-{fold_at}"))
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
        if fold_at and len(t.manifest()["merge_segments"]) >= fold_at:
            t0 = time.monotonic()
            t.compact(spark)
            compacts.append(time.monotonic() - t0)
        t0 = time.monotonic()
        t.read(spark).write.format("noop").mode("overwrite").save()
        reads.append(time.monotonic() - t0)
    n, h = _count_hash(t.read(spark))
    r = lambda xs: round(sum(xs) / max(1, len(xs)), 2)  # noqa: E731
    return {
        "fold_at_segments": fold_at,
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
    out = {"metric": "compaction_point_sweep", "state_rows": state_n,
           "delta_rows": n_delta, "n_epochs": n_epochs, "results": []}
    try:
        state = gen_uri_counts(spark, state_n).localCheckpoint(eager=True)
        # warmup tick so JIT/writer init doesn't land on the first policy
        run_policy(spark, root, gen_uri_counts(spark, 100_000)
                   .localCheckpoint(eager=True), 2, 5_000, 0)
        hashes = set()
        for fold_at in (0, 2, 5, 10):
            res = run_policy(spark, root, state, n_epochs, n_delta, fold_at)
            hashes.add((res["rows"], res["content_hash"]))
            out["results"].append(res)
            print(f"# fold at {fold_at or 'never'} segments: tick {res['avg_tick_secs']}s "
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
