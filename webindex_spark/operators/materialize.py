"""Lineage-truncation seam shared by every bounded-round iterative
operator (pagerank, hits, kcore, bfs, connected components).

Iterative DataFrame jobs must cut their logical-plan lineage every
round or the plan grows exponentially (each round's plan embeds the
previous round's).  HOW to cut is a deployment decision, not an
algorithm decision, and there are exactly two:

* executor-local (default) — lazy ``localCheckpoint``: the cut folds
  into the first job that consumes the round, so no dedicated barrier
  job runs.  NOT durable: an executor loss kills the job (Spark cannot
  recompute a truncated lineage).
* ``parquet:<dir>`` — write/read round-trip under a caller-supplied
  directory: the durable seam for preemptible / multi-tenant clusters,
  mirroring the reference's resume contract (IndexIT.java:107-135 —
  a killed run must resume from its last committed snapshot, never
  refetch).  Equivalent to ``sparkContext.setCheckpointDir`` +
  ``checkpoint()`` but with an inspectable, versioned layout.

The round-6 sweep (BENCH/mat_sweep_r06.json) measured the lazy local
cut fastest and best-scaling N→4N against an eager cut and an
every-2 persist-between-cuts cadence; neither is offered.

Usage inside a loop operator::

    mat = Materializer.of(materialize)      # param: None | "parquet:<dir>"
    static = mat.pin(static)                # once, before the loop
    for _ in range(rounds):
        df = mat(step(df))                  # one cut per round
    return df
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class Materializer:
    """Lineage cutter: lazy ``localCheckpoint`` by default, a durable
    parquet round-trip under ``path`` when one is given."""

    def __init__(self, path: str | None = None):
        self.path = path.rstrip("/") if path else None
        self._snaps = 0

    @classmethod
    def of(cls, spec) -> "Materializer":
        """Coerce an operator's ``materialize=`` argument: an existing
        instance passes through, ``None`` is the executor-local cut and
        ``"parquet:<dir>"`` the durable one."""
        if isinstance(spec, cls):
            return spec
        if spec is None:
            return cls()
        if isinstance(spec, str) and spec.startswith("parquet:"):
            path = spec.split(":", 1)[1]
            if path:
                return cls(path)
        raise ValueError(
            f'materialize must be None, "parquet:<dir>" or a Materializer, got {spec!r}'
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        """Cut ``df``'s lineage."""
        if self.path is None:
            return df.localCheckpoint(eager=False)
        self._snaps += 1
        snap = f"{self.path}/snap_{self._snaps:04d}_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(snap)
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

        Pinned frames are never released here: they feed the caller's
        lazily-consumed result, and unpersisting them before the
        caller's first action would force a full recompute per consumer.
        The context cleaner reclaims them once the result is
        garbage-collected."""
        if self.path is not None:
            return self(df)
        return df.persist(StorageLevel.MEMORY_AND_DISK)
