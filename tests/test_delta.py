"""Incremental engine vs batch recompute — the reference's master invariant
(IndexIT.java:107-135): after every mutation step, incremental state equals
a from-scratch batch recompute over the current page set.

The mutation script mirrors IndexIT.testFluoIndexing (IndexIT.java:145-224):
  1. load all pages
  2. delete one page
  3. add + remove links on one page
  4. add a link creating an inlink count of 2
  5. remove that link from both referrers
plus an anchor-only change (must emit NO link delta — Link equality is
(url, uri), Link.java:67-74).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from webindex_spark.functions import urlnorm
from webindex_spark.operators import delta as delta_ops
from webindex_spark.operators import index_batch
from webindex_spark.operators.materialize import Materializer


def link(raw, anchor):
    r = urlnorm.parse_one(raw)
    return {"url": r["url_norm"], "uri": r["uri"], "anchor_text": anchor}


def page(raw, links, title=None):
    r = urlnorm.parse_one(raw)
    return {
        "url": r["url_norm"], "uri": r["uri"], "crawl_date": None,
        "server": None, "title": title,
        "outbound_links": sorted(
            links, key=lambda l: (l["uri"], l["url"])
        ),
    }


P_A = "http://a.com/1"
P_B = "http://b.com"
P_C = "http://c.com/x"

PAGES_V1 = {
    P_A: [link("http://b.com/1", "b1"), link("http://b.com/3", "b3"), link("http://c.com/1", "c1")],
    P_B: [link("http://c.com/1", "c1"), link("http://b.com/2", "b2"), link("http://b.com/3", "b3")],
    P_C: [link("http://d.com/9", "d9"), link("http://a.com/1", "a1")],
}


def empty_state(spark):
    pages = spark.createDataFrame([], schema=index_batch.PAGE_SCHEMA)
    uc = spark.createDataFrame([], "uri string, links_to long, docs long")
    dc = spark.createDataFrame([], "rev_domain string, pagecount long")
    ir = spark.createDataFrame([], "row string, cf string, cq string, v string")
    return pages, uc, dc, ir


def deltas_df(spark, puts=(), deletes=()):
    rows = [dict(p, op="put") for p in puts] + [
        {
            "url": None, "uri": urlnorm.to_uri(raw), "crawl_date": None,
            "server": None, "title": None, "outbound_links": None, "op": "delete",
        }
        for raw in deletes
    ]
    return spark.createDataFrame(rows, schema=delta_ops.DELTA_SCHEMA)


def assert_equals_batch(spark, state):
    """The master invariant: every table == fresh batch recompute."""
    pages, uc, dc, ir = state
    pages = pages.cache()
    buc, bdc, bir = index_batch.build_index(pages, cache=False)
    buc = buc.where((F.col("links_to") != 0) | (F.col("docs") != 0))

    got_uc = {(r["uri"], r["links_to"], r["docs"]) for r in uc.collect()}
    exp_uc = {(r["uri"], r["links_to"], r["docs"]) for r in buc.collect()}
    assert got_uc == exp_uc, "uri_counts"

    got_dc = {(r["rev_domain"], r["pagecount"]) for r in dc.collect()}
    exp_dc = {(r["rev_domain"], r["pagecount"]) for r in bdc.collect()}
    assert got_dc == exp_dc, "domain_counts"

    got_ir = {tuple(r) for r in ir.collect()}
    exp_ir = {tuple(r) for r in bir.collect()}
    assert got_ir == exp_ir, (
        f"index_rows: extra={sorted(got_ir - exp_ir)[:5]} "
        f"missing={sorted(exp_ir - got_ir)[:5]}"
    )


def tick(spark, state, puts=(), deletes=()):
    with Materializer() as mat:
        out = delta_ops.apply_page_deltas(*state, deltas_df(spark, puts, deletes), mat)
        # materialize each step and truncate lineage — in production every
        # tick commits to a snapshot table (write+read), which does exactly this
        return tuple(df.localCheckpoint(eager=True) for df in out)


def test_incremental_equals_batch_script(spark):
    state = empty_state(spark)

    # step 1: load all pages
    state = tick(spark, state, puts=[page(u, ls) for u, ls in PAGES_V1.items()])
    assert_equals_batch(spark, state)

    # step 2: delete one page (drops c.com domain's own doc; d.com/9 target
    # count falls to zero and all its rows must vanish)
    state = tick(spark, state, deletes=[P_C])
    assert_equals_batch(spark, state)

    # step 3: add + remove links on one page
    new_a = page(P_A, [
        link("http://b.com/1", "b1"),          # kept
        link("http://e.com/7", "e7"),          # added
        link("http://c.com/1", "c1"),          # kept
    ])                                          # b.com/3 removed
    state = tick(spark, state, puts=[new_a])
    assert_equals_batch(spark, state)

    # step 4: add a link creating an inlink count of 2 (b.com already
    # links to b.com/2; now a.com does too)
    new_a2 = page(P_A, [
        link("http://b.com/1", "b1"),
        link("http://e.com/7", "e7"),
        link("http://c.com/1", "c1"),
        link("http://b.com/2", "ab2"),
    ])
    state = tick(spark, state, puts=[new_a2])
    assert_equals_batch(spark, state)

    # step 5: remove that link from both referrers
    new_a3 = page(P_A, [
        link("http://b.com/1", "b1"),
        link("http://e.com/7", "e7"),
        link("http://c.com/1", "c1"),
    ])
    new_b = page(P_B, [
        link("http://c.com/1", "c1"),
        link("http://b.com/3", "b3"),
    ])
    state = tick(spark, state, puts=[new_a3, new_b])
    assert_equals_batch(spark, state)


def test_anchor_only_change_emits_no_link_delta(spark):
    state = empty_state(spark)
    state = tick(spark, state, puts=[page(P_A, [link("http://b.com/1", "old")])])
    uri_deltas, muts = delta_ops.diff_pages(
        state[0], deltas_df(spark, puts=[page(P_A, [link("http://b.com/1", "NEW")])]),
        Materializer(),
    )
    assert uri_deltas.count() == 0  # no UriInfo change at all
    m = muts.collect()[0]
    assert m["added_links"] == [] and m["deleted_links"] == []
    # but the page:cur JSON is re-exported with the new anchor
    state2 = tick(spark, state, puts=[page(P_A, [link("http://b.com/1", "NEW")])])
    cur = state2[3].where("cf = 'page' and cq = 'cur'").collect()[0]["v"]
    assert '"anchorText":"NEW"' in cur


def test_reload_same_page_is_noop(spark):
    state = empty_state(spark)
    p = page(P_A, PAGES_V1[P_A])
    state = tick(spark, state, puts=[p])
    before = {tuple(r) for r in state[3].collect()}
    state = tick(spark, state, puts=[p])
    after = {tuple(r) for r in state[3].collect()}
    assert before == after
    assert_equals_batch(spark, state)


def test_domain_changes_feed_is_o_delta_and_exact(spark):
    """merge_domain_counts returns the touched-domain
    (old, new) rows the epoch metrics consume; domains_new derived from it
    equals the brute-force old-vs-new domain-set difference, and its merge
    commit reconciled onto the old table is the next table."""
    dc = spark.createDataFrame(
        [("com.a", 2), ("com.b", 1)], "rev_domain string, pagecount long"
    )
    # com.b's only uri dies; com.c appears; com.a gains one more uri
    changes = spark.createDataFrame(
        [
            ("com.b>>o>/x", 1, 0, 0, 0, True),
            ("com.c>>o>/y", 0, 0, 3, 1, True),
            ("com.a>>o>/z", 0, 0, 1, 0, True),
        ],
        "uri string, old_links long, old_docs long, new_links long, "
        "new_docs long, touched boolean",
    )
    dchg = delta_ops.merge_domain_counts(dc, changes)
    nxt = delta_ops.reconcile(dc, *delta_ops.domain_counts_commit(dchg))
    got_next = {(r["rev_domain"], r["pagecount"]) for r in nxt.collect()}
    assert got_next == {("com.a", 3), ("com.c", 1)}
    rows = {r["rev_domain"]: (r["old_pagecount"], r["new_pagecount"])
            for r in dchg.collect()}
    assert rows == {"com.a": (2, 3), "com.b": (1, 0), "com.c": (0, 1)}
    domains_new = sum(1 for o, n in rows.values() if o == 0 and n != 0)
    old_set = {r["rev_domain"] for r in dc.collect()}
    new_set = {d for d, _ in got_next}
    assert domains_new == len(new_set - old_set) == 1
