"""The lineage-truncation seam (operators/materialize.py): every
bounded-round iterative operator must produce IDENTICAL results under

* the executor-local default (lazy ``localCheckpoint``, the cut folded
  into the first consuming job), and
* the durable parquet round-trip (the preemptible-cluster seam the
  reference's resume contract demands — IndexIT.java:107-135).

The recurrences are integer fixed-point, so "identical" is exact row
equality, not tolerance."""

from __future__ import annotations

import os

import pytest

from webindex_spark.operators.components import connected_components
from webindex_spark.operators.hits import hits
from webindex_spark.operators.kcore import hop_distances, kcore_peel
from webindex_spark.operators.materialize import Materializer
from webindex_spark.operators.pagerank import pagerank

# a graph with a cycle, a dangling sink, a hub, and two components
EDGES = (
    [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    + [(f"leaf{i}", "hub") for i in range(5)]
    + [("q1", "q2"), ("q2", "q3")]
)


def _backends(tmp_path):
    return {"local": None, "parquet": Materializer(f"{tmp_path}/snaps")}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "op",
    ["pagerank", "hits", "kcore", "bfs", "components"],
)
def test_backends_agree_exactly(spark, tmp_path, op):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    seeds = spark.createDataFrame([("a",), ("q1",)], ["id"])

    def runs(mat):
        if op == "pagerank":
            yield pagerank(df, iterations=4, materialize=mat)
        elif op == "hits":
            yield hits(df, iterations=3, materialize=mat)
        elif op == "kcore":
            # both survivor-set joins: broadcast and the shuffle-join
            # fallback for node sets too large to broadcast
            for bcast in (True, False):
                yield kcore_peel(
                    df, k=2, rounds=4, materialize=mat, broadcast_nodes=bcast
                )
        elif op == "bfs":
            yield hop_distances(df, seeds, rounds=5, materialize=mat)
        else:
            yield connected_components(df, materialize=mat)

    want = None
    for name, mat in _backends(tmp_path).items():
        for i, out in enumerate(runs(mat)):
            got = _rows(out)
            if want is None:
                want = got
            assert got == want, f"{op}: backend {name} run {i} diverged"
            assert len(got) > 0


def test_parquet_backend_leaves_inspectable_snapshots(spark, tmp_path):
    snaps = f"{tmp_path}/pr_snaps"
    out = pagerank(
        spark.createDataFrame(EDGES, ["src", "dst"]),
        iterations=3,
        materialize=Materializer(snaps),
    )
    assert out.count() > 0
    dirs = sorted(os.listdir(snaps))
    # static nodes + adj + one per iteration = 5 snapshots
    assert len(dirs) == 5
    # every snapshot is a readable parquet dataset (the resume surface)
    for d in dirs:
        assert spark.read.parquet(f"{snaps}/{d}").count() > 0


def test_parquet_cut_rereads_without_a_job(spark, tmp_path, monkeypatch):
    """The parquet cut plans its re-read from the frame's own schema, so
    once the write returns no further job (footer inference) runs."""
    from pyspark.sql import DataFrameWriter

    sc = spark.sparkContext
    real_parquet = DataFrameWriter.parquet

    def write_then_regroup(self, path, *a, **kw):
        real_parquet(self, path, *a, **kw)
        sc.setJobGroup("parquet-cut-reread", "parquet-cut-reread")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_regroup)
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    try:
        cut = Materializer(f"{tmp_path}/cut")(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("parquet-cut-reread")) == []
    assert cut.schema == df.schema
    assert _rows(cut) == _rows(df)


def test_scope_exit_releases_cuts_and_pins(spark, tmp_path):
    """Leaving a ``with Materializer()`` scope drops what it cut and
    pinned: neither keeps a persistent RDD and the CacheManager is empty;
    a parquet scope removes its snapshot directories."""
    spark.catalog.clearCache()
    persistent = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    before = persistent()
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    with Materializer() as mat:
        cut, pinned = mat(df), mat.pin(df.repartition("src"))
        assert cut.join(pinned, "src").count() > 0
        assert len(persistent() - before) == 2
    assert persistent() <= before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    with Materializer(f"{tmp_path}/snaps") as mat:
        assert _rows(mat(df)) == _rows(df)
        assert len(os.listdir(f"{tmp_path}/snaps")) == 1
    assert os.listdir(f"{tmp_path}/snaps") == []


def test_kcore_run_to_fixpoint(spark):
    # K5 + tail: rounds=None must reach the true 3-core and say so
    k5 = [(f"k{i}", f"k{j}") for i in range(5) for j in range(i + 1, 5)]
    edges = k5 + [("k0", "t1"), ("t1", "t2"), ("t2", "t3")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r for r in kcore_peel(df, k=3, rounds=None).collect()}
    assert all(got[f"k{i}"]["in_core"] for i in range(5))
    assert not any(got[t]["in_core"] for t in ("t1", "t2", "t3"))
    assert all(r["converged"] for r in got.values())

    # a long path with k=2 dissolves end-in, one layer per round: the
    # fixpoint mode must keep peeling past any small fixed bound
    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(14)]
    pdf = spark.createDataFrame(path, ["src", "dst"])
    done = kcore_peel(pdf, k=2, rounds=None).collect()
    assert not any(r["in_core"] for r in done)
    assert all(r["converged"] for r in done)


def test_bfs_run_to_fixpoint(spark):
    # 9-node path, seed at one end, rounds=None reaches the far end
    path = [(f"n{i}", f"n{i + 1}") for i in range(8)]
    df = spark.createDataFrame(path, ["src", "dst"])
    seeds = spark.createDataFrame([("n0",)], ["id"])
    got = {r["id"]: r["dist"] for r in
           hop_distances(df, seeds, rounds=None).collect()}
    assert got == {f"n{i}": i for i in range(9)}
