"""The one owner of reused and lineage-cut frames: the iterative operators
(pagerank, hits, kcore, bfs, components) cut their rounds through it, the
crawl epoch and the stream micro-batch every frame they reuse.

Iterative DataFrame jobs must cut their logical-plan lineage every
round or the plan grows exponentially (each round's plan embeds the
previous round's).  HOW to cut is a deployment decision, not an
algorithm decision, and there are exactly two:

* executor-local (``Materializer()``) — lazy ``localCheckpoint``: the
  cut folds into the first job that consumes the frame, so no dedicated
  barrier job runs.  NOT durable: an executor loss kills the job (Spark
  cannot recompute a truncated lineage).
* ``Materializer(<dir>)`` — write/read round-trip under a caller-
  supplied directory: the durable seam for preemptible / multi-tenant
  clusters, mirroring the reference's resume contract
  (IndexIT.java:107-135 — a killed run must resume from its last
  committed snapshot, never refetch).  Equivalent to
  ``sparkContext.setCheckpointDir`` + ``checkpoint()`` but with an
  inspectable, versioned layout.

The round-6 sweep (BENCH/mat_sweep_r06.json) measured the lazy local
cut fastest and best-scaling N→4N against an eager cut and an
every-2 persist-between-cuts cadence; neither is offered.

``release()`` drops every cut and pin: a local cut's RDD blocks, a pin's
cache entry, a parquet cut's snapshot directory.  A unit of work that
ends at its own action (a crawl epoch, a stream micro-batch) opens one
``with Materializer() as mat:`` scope, released on exit, success or
failure.  An operator that returns a lazy frame cannot release before
the caller's action; it cuts through the caller's ``materialize=``
instance or its own unowned one::

    mat = materialize or Materializer()
    static = mat.pin(static)                # once, before the loop
    for _ in range(rounds):
        df = mat(step(df))                  # one cut per round
    return df
"""

from __future__ import annotations

import shutil
import uuid
from functools import partial

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class Materializer:
    """Lineage cutter and owner of what it cuts: lazy ``localCheckpoint``
    by default, a durable parquet round-trip under ``path`` when one is
    given.  A context manager whose exit runs ``release()``."""

    def __init__(self, path: str | None = None):
        self.path = path.rstrip("/") if path else None
        self._snaps = 0
        self._releases = []

    def __enter__(self) -> "Materializer":
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def __call__(self, df: DataFrame) -> DataFrame:
        """Cut ``df``'s lineage."""
        if self.path is None:
            cut = df.localCheckpoint(eager=False)
            # the cut's plan is one LogicalRDD; its blocks live under that RDD
            self._releases.append(partial(cut._jdf.logicalPlan().rdd().unpersist, False))
            return cut
        self._snaps += 1
        snap = f"{self.path}/snap_{self._snaps:04d}_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(snap)
        self._releases.append(partial(shutil.rmtree, snap, True))
        # the frame's own schema plans the re-read: no footer-inference job
        return df.sparkSession.read.schema(df.schema).parquet(snap)

    def pin(self, df: DataFrame) -> DataFrame:
        """Cache a STATIC pre-loop frame (adjacency, node table) while
        PRESERVING its physical layout.

        ``localCheckpoint`` — eager or lazy — replaces the plan with an
        ``ExistingRDD`` scan that reports ``UnknownPartitioning``, so a
        checkpointed adjacency that was ``repartition()``-ed on the join
        key is re-shuffled by EVERY iteration's join anyway (measured:
        the scan node's ``UnknownPartitioning(0)`` in the plan, one
        edge-list exchange per iteration).  ``persist()`` keeps the
        logical plan — and with it the repartition's output partitioning
        — while still computing the frame once, so per-iteration joins
        against it shuffle only the evolving side.  The parquet backend
        keeps its durable round-trip (scan partitioning is lost there;
        durability is that mode's contract).

        A pin lives until ``release()``.  An operator that returns a
        lazy frame built on it through an unowned ``Materializer`` never
        releases it: unpersisting before the caller's first action would
        force a full recompute per consumer.  The context cleaner then
        reclaims it once the result is garbage-collected."""
        if self.path is not None:
            return self(df)
        pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._releases.append(pinned.unpersist)
        return pinned

    def release(self) -> None:
        """Drop every frame cut or pinned so far; a frame built on one
        must not be used afterwards."""
        while self._releases:
            self._releases.pop()()
