"""Fixed-point PageRank vs an exact python-int replica of the same
recurrence, plus structural sanity (hubs outrank leaves, mass conserved
up to documented floor-division loss), and the long-id proxy the graph
gates iterate on."""

from __future__ import annotations

from pyspark.sql import functions as F

from webindex_spark.operators.pagerank import pagerank


def _pagerank_py(edges, iterations=5, damping=85, scale=10**12):
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out: dict = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: scale // n for v in nodes}
    base = (100 - damping) * scale // (100 * n)
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if v not in out)
        dshare = damping * dangling // (100 * n)
        nxt = {v: base + dshare for v in nodes}
        for s, d in edges:
            nxt[d] += r[s] * damping // (out[s] * 100)
        r = nxt
    return r


def _run(spark, edges, iterations=5):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["rank"]
        for r in pagerank(df, iterations=iterations).collect()
    }
    want = _pagerank_py(edges, iterations)
    assert got == want
    return got


def test_star_hub_outranks_leaves(spark):
    # leaves all point at the hub; hub is dangling
    edges = [(f"leaf{i}", "hub") for i in range(6)]
    got = _run(spark, edges)
    assert got["hub"] > got["leaf0"]
    assert len({got[f"leaf{i}"] for i in range(6)}) == 1  # symmetric leaves


def test_chain_and_cycle_exact(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    got = _run(spark, edges)
    # mass conservation up to floor loss: <= ~1 unit lost per node per step
    assert abs(sum(got.values()) - 10**12) < 5 * 5 * 10


def test_multi_out_edges_split_mass(spark):
    edges = [("s", "a"), ("s", "b"), ("a", "t"), ("b", "t")]
    got = _run(spark, edges)
    assert got["a"] == got["b"]
    assert got["t"] > got["a"]


def test_iteration_count_matters(spark):
    edges = [("a", "b"), ("b", "c")]
    r1 = _run(spark, edges, iterations=1)
    r3 = _run(spark, edges, iterations=3)
    assert r1 != r3


def test_long_id_proxy_maps_back_to_link_edges(spark):
    """The graph gates iterate on ``int_link_edges``' long ids and map
    the node-sized result back through ``int_id_to_uri``: mapping both
    endpoints of every proxy edge gives exactly the uri link graph,
    one proxy edge per uri edge."""
    from webindex_spark.plans import crawl_queries as cq

    sf = "/root/testdata/sf0.001"
    src_mapped = cq.int_id_to_uri(
        spark, sf, cq.int_link_edges(spark, sf), "src"
    ).withColumnRenamed("__uri", "src_uri")
    mapped = cq.int_id_to_uri(spark, sf, src_mapped, "dst").select(
        "src_uri", F.col("__uri").alias("dst_uri")
    )
    got = [tuple(r) for r in mapped.collect()]
    want = [tuple(r) for r in cq.link_edges(spark, sf).collect()]
    assert len(got) == len(set(got)) == len(want) > 0
    assert set(got) == set(want)
