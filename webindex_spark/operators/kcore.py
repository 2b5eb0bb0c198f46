"""k-core peeling and BFS hop distances — the remaining two members of
the graph-analytics lane (centrality: pagerank/hits; counting:
triangles/butterflies; components: dup_clusters; THIS: decomposition +
reachability).

Both are bounded-round iterative jobs in the pagerank discipline: the
working set is checkpointed per round (lineage truncation), each round
is a constant number of linear shuffles, and the recurrences are pure
integer functions so the DuckDB oracle unrolls them exactly.

* :func:`kcore_peel` — R rounds of "delete every node with degree < k
  (and its edges)".  After enough rounds the survivor set IS the
  k-core; with bounded R the result is still exactly defined (the
  oracle unrolls the same R rounds) and the returned ``converged``
  flag says whether a fixpoint was reached — same contract as
  components.py's bounded large-star/small-star rounds.
* :func:`hop_distances` — multi-source BFS: minimum link distance from
  a seed set, R rounds of frontier relaxation.  The crawl-planning
  question ("how deep past the seeds does the frontier reach?") over
  the page→resource graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webindex_spark.operators.materialize import Materializer


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int | None = 6,
    src: str = "src",
    dst: str = "dst",
    materialize: Materializer | None = None,
    broadcast_nodes: bool = True,
) -> DataFrame:
    """Peel nodes of degree < ``k`` for ``rounds`` rounds over the
    undirected simple graph.  Returns ``(id, degree, in_core,
    converged)``: every ORIGINAL node, its surviving degree (0 if
    peeled), membership after the final round, and whether the last
    round removed nothing (same scalar-probe class as the components
    convergence check).

    ``rounds=None`` runs to the actual fixpoint (the production mode —
    the loop's only driver data is the per-round edge-count scalar, and
    every round strictly shrinks the edge set, so termination is
    guaranteed in ≤ |E| rounds and in practice a handful).
    ``materialize``: ``None`` or a lineage ``Materializer`` (materialize.py).

    ``broadcast_nodes=True`` ships the per-round survivor set (one id
    per surviving node) as a broadcast, so the edge table keeps its
    partitioning across every round and only the degree aggregate
    shuffles; pass ``False`` on graphs whose node set cannot be
    broadcast (10^9+ nodes) to fall back to shuffle joins."""
    mat = materialize or Materializer()
    e0 = mat.pin(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    all_nodes = mat.pin(
        e0.select(F.col("a").alias("id"))
        .union(e0.select(F.col("b").alias("id")))
        .distinct()
    )
    e = e0
    converged = False
    r = 0
    n_edges: int | None = None  # |e| carried across rounds: each round
    # compares |e2| to the PREVIOUS round's count instead of re-running
    # a count job over the unchanged side (one scalar job per round)
    while rounds is None or r < rounds:
        r += 1
        deg = (
            e.select(F.col("a").alias("id"))
            .union(e.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
        keep = mat(deg.where(F.col("d") >= k).select("id"))
        bkeep = F.broadcast(keep) if broadcast_nodes else keep
        e2 = mat(
            e.join(bkeep.withColumnRenamed("id", "a"), "a")
            .join(bkeep.withColumnRenamed("id", "b"), "b")
            .select("a", "b")
        )
        if n_edges is None:
            n_edges = e.count()
        n2 = e2.count()
        e = e2
        if n2 == n_edges:
            converged = True
            break
        n_edges = n2
    deg = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return all_nodes.join(deg, "id", "left").select(
        "id",
        F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
        (F.coalesce(F.col("degree"), F.lit(0)) >= k).alias("in_core"),
        F.lit(converged).alias("converged"),
    )


def hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int | None = 4,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    materialize: Materializer | None = None,
) -> DataFrame:
    """Multi-source BFS: ``(id, dist)`` — the minimum number of link
    hops from any seed, for every node within ``rounds`` hops (nodes
    beyond the horizon are absent; callers left-join if they want
    sentinel rows).  ``seeds`` is a one-column DataFrame of node ids.

    Each round relaxes the CURRENT frontier only (newly-reached nodes)
    — the standard distributed BFS where round r shuffles frontier ×
    out-edges, not the whole distance table.  ``rounds=None`` runs
    until the frontier empties (full reachability — termination is
    guaranteed because every round adds only never-seen nodes).
    ``materialize``: ``None`` or a lineage ``Materializer`` (materialize.py)."""
    mat = materialize or Materializer()
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = e.union(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
    # pin (persist) the static edge table: a checkpoint would erase the
    # repartition's layout and re-shuffle the edges every round
    e = mat.pin(e.distinct().repartition("u"))
    dist = mat(
        seeds.toDF("id").distinct()
        .select("id", F.lit(0).cast("long").alias("dist"))
    )
    frontier = dist
    r = 0
    while rounds is None or r < rounds:
        r += 1
        # the frontier is cut: isEmpty() probes it and the NEXT round's
        # anti-join + union both read it
        reached = mat(
            e.join(frontier, e.u == frontier.id)
            .select(F.col("v").alias("id"))
            .distinct()
            .join(dist, "id", "left_anti")
            .select("id", F.lit(r).cast("long").alias("dist"))
        )
        if reached.isEmpty():
            break
        dist = mat(dist.union(reached))
        frontier = reached
    return dist
