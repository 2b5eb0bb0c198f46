"""The ten Grafana meters vs hand-derived reference semantics.

Script exercises exactly the cases where the meters DIFFER from each
other (the round-3 seam conflated them): a reload no-op put (ingested
and changed both count it, but it adds no links and touches no uris), a
link-set change whose only domain effect is on a brand-new domain, and
a page delete (changed/exported count it, ingested does not).

Reference anchors: PageObserver.java:101 (pages_ingested marks puts
only), :110 (links_ingested = ADDED links), :119-120 (export + changed
per processed delta); UriCombineQ.java:68-74 (links_changed per touched
uri, links_new on ZERO->nonzero); DomainCombineQ.java:52-56
(domains_new on 0->nonzero, changed per touched domain);
IndexUpdateTranslator.java:49-57 (exported = one per queued update).
"""

from __future__ import annotations

import pytest

from tests.test_delta import deltas_df, empty_state, link, page
from webindex_spark.operators import delta as delta_ops
from webindex_spark.operators.frontier import METER_NAMES, epoch_meters
from webindex_spark.operators.materialize import Materializer

P_A = "http://a.com/1"
P_B = "http://b.com"
L_X = link("http://c.com/x1", "x1")
L_Y = link("http://c.com/y1", "y1")
L_Z = link("http://d.com/z", "z")


def tick(spark, state, puts=(), deletes=()):
    pages, uc, dc, ir = state
    deltas = deltas_df(spark, puts=puts, deletes=deletes)
    with Materializer() as mat:
        outputs, feed = delta_ops.cascade(pages, uc, dc, deltas, mat)
        meters = epoch_meters(*feed)
        nxt = tuple(
            delta_ops.reconcile(df, *outputs[t]).localCheckpoint(eager=True)
            for df, t in zip(state, ("index_pages", "uri_counts", "domain_counts", "index_rows"))
        )
    return nxt, meters


def expect(pi, li, pc, ln, lc, dn, dc_, pe, le, de):
    return dict(zip(METER_NAMES, [pi, li, pc, ln, lc, dn, dc_, pe, le, de]))


@pytest.mark.usefixtures("spark")
def test_ten_meters_across_script(spark):
    state = empty_state(spark)

    # batch 1: two new pages, 3 links total, 4 uris 0->nonzero, 3 domains new
    state, m1 = tick(
        spark, state, puts=[page(P_A, [L_X, L_Y]), page(P_B, [L_X])]
    )
    assert m1 == expect(2, 3, 2, 4, 4, 3, 3, 2, 4, 3)

    # batch 2: reload no-op of A (ingested+changed, NO links/uris touched)
    # + B swaps link X -> Z (1 added link; X 2->1 touched-not-new, Z 0->1
    # new on a brand-new domain d.com — the domain-count-only change)
    state, m2 = tick(
        spark, state, puts=[page(P_A, [L_X, L_Y]), page(P_B, [L_Z])]
    )
    assert m2 == expect(2, 1, 2, 1, 2, 1, 1, 2, 2, 1)

    # batch 3: delete A (changed/exported but NOT ingested; its 2 links
    # retract -> X 1->0, Y 1->0, A docs 1->0; domains a.com and c.com
    # drop to zero — touched, none new)
    state, m3 = tick(spark, state, deletes=[P_A])
    assert m3 == expect(0, 0, 1, 0, 3, 0, 2, 1, 3, 2)
