"""Lineage-truncation seam shared by every bounded-round iterative
operator (pagerank, hits, kcore, bfs, connected components).

Iterative DataFrame jobs must cut their logical-plan lineage
periodically or the plan grows exponentially (each round's plan embeds
the previous round's).  HOW to cut is a deployment decision, not an
algorithm decision:

* ``local`` — ``localCheckpoint``: executor-storage-only, fast, the
  right default for a single-app run.  NOT durable: an executor loss
  kills the job (Spark cannot recompute a truncated lineage).
* ``parquet`` — write/read round-trip under a caller-supplied
  directory: the durable seam for preemptible / multi-tenant clusters,
  mirroring the reference's resume contract (IndexIT.java:107-135 —
  a killed run must resume from its last committed snapshot, never
  refetch).  Equivalent to ``sparkContext.setCheckpointDir`` +
  ``checkpoint()`` but with an inspectable, versioned layout.
* ``every=k`` cadence — truncate only every k-th call and ``persist``
  the rounds in between.  Persisted rounds are computed once (first
  consumer fills the cache) so skipping a cut costs no recompute,
  while halving the number of materialization barriers — the fix for
  the round-5 iterative-lane scaling gap (BENCH/graph_scaling_r05.json:
  per-iteration eager barriers were the bottleneck, not data volume).

Usage inside a loop operator::

    mat = Materializer.of(materialize)      # param: str | Materializer
    for _ in range(rounds):
        df = step(df)
        df = mat(df)                        # cadence-aware cut
    return mat.finish(df)                   # unpersists intermediates

``Materializer.of`` accepts ``"local"`` / ``"local_lazy"`` /
``"parquet:/some/dir"`` / an existing instance, so operators expose a
single ``materialize=`` keyword and tests parametrize over backends.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class Materializer:
    """Cadence-aware lineage cutter.  ``mode``:

    * ``local``       — eager ``localCheckpoint`` (default)
    * ``local_lazy``  — lazy ``localCheckpoint`` (materializes at first
      use; folds the cut into the first consuming job instead of
      scheduling a dedicated barrier job)
    * ``parquet``     — durable write/read round-trip under ``path``

    ``every=k`` cuts only on every k-th call; intermediate rounds are
    ``persist(MEMORY_AND_DISK)``-ed so they are computed exactly once.
    ``finish`` unpersists everything this instance pinned.
    """

    def __init__(self, mode: str = "local", path: str | None = None,
                 every: int = 1):
        if mode not in ("local", "local_lazy", "parquet"):
            raise ValueError(f"unknown materialize mode: {mode!r}")
        if mode == "parquet" and not path:
            raise ValueError("parquet materializer needs a directory path")
        if every < 1:
            raise ValueError("every must be >= 1")
        self.mode = mode
        self.path = path.rstrip("/") if path else None
        self.every = every
        self._calls = 0
        self._snaps = 0
        self._pinned: list[DataFrame] = []

    @classmethod
    def of(cls, spec) -> "Materializer":
        """Coerce an operator's ``materialize=`` argument: an existing
        instance passes through; ``"parquet:<dir>"`` selects the durable
        backend; any other string is a mode name."""
        if isinstance(spec, cls):
            return spec
        if spec is None:
            return cls()
        if isinstance(spec, str):
            if spec.startswith("parquet:"):
                return cls("parquet", path=spec.split(":", 1)[1])
            return cls(spec)
        raise TypeError(f"materialize must be a str or Materializer, got {spec!r}")

    def _cut(self, df: DataFrame) -> DataFrame:
        if self.mode == "local":
            return df.localCheckpoint(eager=True)
        if self.mode == "local_lazy":
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

        Pinned frames are NOT released by :meth:`finish`: unlike cadence
        intermediates they feed the caller's lazily-consumed result, and
        unpersisting them before the caller's first action would force a
        full recompute per consumer.  The context cleaner reclaims them
        once the result is garbage-collected."""
        if self.mode == "parquet":
            return self._cut(df)
        return df.persist(StorageLevel.MEMORY_AND_DISK)

    def __call__(self, df: DataFrame, *, force: bool = False) -> DataFrame:
        """Cut lineage if this call lands on the cadence (or ``force``);
        otherwise persist and return the uncut frame.  Forced cuts (the
        static pre-loop state every iterative op pins once) do not
        advance the cadence counter."""
        if force:
            return self._cut(df)
        self._calls += 1
        if self._calls % self.every == 0:
            return self._cut(df)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._pinned.append(df)
        return df

    def finish(self, df: DataFrame) -> DataFrame:
        """Release every persisted intermediate.  The returned frame is
        ``df`` itself — safe because persisted rounds feed only cut
        frames, never the caller's result lineage... unless the last
        round was itself a persist, in which case it is force-cut first
        so unpersisting cannot trigger recomputation downstream."""
        if self._pinned and df is self._pinned[-1]:
            df = self._cut(df)
        for p in self._pinned:
            p.unpersist(blocking=False)
        self._pinned.clear()
        return df
