"""Incremental index maintenance — the Fluo observer cascade as batch jobs
(SURVEY.md §2.9 T1-T5, §3.2).

``cascade`` is the one observer chain every path runs (SURVEY.md §3.2:
PageObserver -> UriCombineQ -> DomainCombineQ -> IndexUpdateTranslator):
the crawl epoch (``frontier.run_epoch``), the stream micro-batch
(``page_stream.apply_page_batch``) and the full-state tick
``apply_page_deltas`` all call it.  It consumes a batch of page
upserts/deletes (T1), diffs them against current page state exactly as
PageObserver does (T2, PageObserver.java:72-124):

  * delete  -> docs -1 (unconditionally, reference parity) and links -1
               for every current outbound link;
  * put new -> docs +1 and links +1 for every link;
  * put update -> docs unchanged; link deltas are the two set differences
               of the link sets *keyed by (uri, url)* (Link equality,
               Link.java:67-74 — an anchor-only change emits NO link
               delta, exactly like ``Sets.difference`` over TreeSet);

then folds the UriInfo deltas into uri_counts dropping rows that sum to
ZERO (T3, UriCombineQ + UriInfo.reduce:76-82), derives domain ±1 from
0<->nonzero transitions (UriCombineQ.java:72-77), and emits
delete-old-write-new mutations for the materialized index rows (T5,
IndexClient.genUriData/genDomainData/genPageMutations:250-306).  Its
output per table is the (upserts, merge keys, deletes) triple a
``mode="merge"`` snapshot commit takes.

The master invariant (IndexIT.java:107-135): after any sequence of these
ticks, every state table equals a from-scratch ``index_batch.build_index``
over the final page set — asserted step-by-step in tests/test_delta.py
through ``apply_page_deltas``, which is ``cascade`` plus the merge-on-read
reconcile ``SnapshotTable.read`` applies.

Physical notes: the diff is one full-outer join on the page key; link-set
diffs are ``array_except`` on (uri,url) pairs — vectorized, no shuffle
beyond the join; all merges are key-partitioned joins that Iceberg's
MERGE INTO would express directly on a cluster.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from webindex_spark.functions.spark_udfs import page_json, rev_encode, uri_rev_domain_col
from webindex_spark.operators.index_batch import INDEX_ROW_SCHEMA, PAGE_SCHEMA
from webindex_spark.operators.materialize import Materializer

DELTA_SCHEMA = T.StructType(PAGE_SCHEMA.fields + [T.StructField("op", T.StringType(), False)])

# the empty state of the four tables ``cascade`` maintains, in the order
# of its outputs (the order the crawl submits their commits in)
STATE_SCHEMAS = {
    "index_pages": PAGE_SCHEMA,
    "index_rows": INDEX_ROW_SCHEMA,
    "domain_counts": "rev_domain string, pagecount long",
    "uri_counts": "uri string, links_to long, docs long",
}


def diff_pages(pages_state: DataFrame, deltas: DataFrame, mat: Materializer):
    """T2. Returns (uri_deltas, page_mutations), cut through ``mat``.

    ``deltas`` must contain at most one row per uri (a batch = one Fluo
    notification sweep).  page_mutations carries what T5 needs: the op,
    the next JSON, and the added/deleted link structs.
    """
    d = deltas.select(
        F.col("uri"),
        F.col("op"),
        F.struct("url", "uri", "outbound_links", "crawl_date", "server", "title").alias("next_page"),
        F.coalesce(F.col("outbound_links"), F.array().cast(PAGE_SCHEMA["outbound_links"].dataType)).alias("next_links"),
    )
    s = pages_state.select(
        F.col("uri"),
        F.struct("url", "uri", "outbound_links", "crawl_date", "server", "title").alias("cur_page"),
        F.coalesce(F.col("outbound_links"), F.array().cast(PAGE_SCHEMA["outbound_links"].dataType)).alias("cur_links"),
    )
    j = d.join(s, "uri", "left")

    is_del = F.col("op") == "delete"
    cur_exists = F.col("cur_page").isNotNull()
    cur_links = F.coalesce(F.col("cur_links"), F.array().cast(PAGE_SCHEMA["outbound_links"].dataType))
    next_links = F.when(is_del, F.array().cast(PAGE_SCHEMA["outbound_links"].dataType)).otherwise(F.col("next_links"))

    # link-set diffs on (uri, url) identity; added links keep the NEW
    # anchor text for the inlinks row, deleted links carry the old one
    def keys_of(arr: F.Column) -> F.Column:
        return F.transform(arr, lambda l: F.struct(l["uri"].alias("uri"), l["url"].alias("url")))

    cur_keys = keys_of(cur_links)
    next_keys = keys_of(next_links)
    with_diffs = mat(j.select(
        "uri", "op", "next_page", "cur_page",
        F.filter(
            next_links,
            lambda l: ~F.array_contains(cur_keys, F.struct(l["uri"].alias("uri"), l["url"].alias("url"))),
        ).alias("added_links"),
        F.filter(
            cur_links,
            lambda l: ~F.array_contains(next_keys, F.struct(l["uri"].alias("uri"), l["url"].alias("url"))),
        ).alias("deleted_links"),
        F.when(is_del, F.lit(-1)).when(~cur_exists, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("d_docs"),
    ))  # feeds uri_deltas and page_mutations

    # uri deltas: the page's own docs delta + ±1 per added/deleted link target
    own = with_diffs.select("uri", F.lit(0).cast("long").alias("d_links"), F.col("d_docs"))
    add = with_diffs.select(F.explode("added_links").alias("l")).select(
        F.col("l.uri").alias("uri"), F.lit(1).cast("long").alias("d_links"),
        F.lit(0).cast("long").alias("d_docs"),
    )
    rem = with_diffs.select(F.explode("deleted_links").alias("l")).select(
        F.col("l.uri").alias("uri"), F.lit(-1).cast("long").alias("d_links"),
        F.lit(0).cast("long").alias("d_docs"),
    )
    uri_deltas = (
        own.unionByName(add).unionByName(rem)
        .groupBy("uri")
        .agg(F.sum("d_links").alias("d_links"), F.sum("d_docs").alias("d_docs"))
        .where((F.col("d_links") != 0) | (F.col("d_docs") != 0))
    )

    page_mutations = with_diffs.select("uri", "op", "next_page", "added_links", "deleted_links")
    return uri_deltas, page_mutations


def merge_uri_counts(uri_counts: DataFrame, uri_deltas: DataFrame) -> DataFrame:
    """T3. Returns ``changes``: the (old, new) pair per changed uri — the
    ChangeObserver feed, and the input of ``uri_counts_commit``."""
    return (
        uri_counts.join(uri_deltas, "uri", "full_outer")
        .select(
            "uri",
            F.coalesce("links_to", F.lit(0)).cast("long").alias("old_links"),
            F.coalesce("docs", F.lit(0)).cast("long").alias("old_docs"),
            (F.coalesce("links_to", F.lit(0)) + F.coalesce("d_links", F.lit(0)))
            .cast("long").alias("new_links"),
            (F.coalesce("docs", F.lit(0)) + F.coalesce("d_docs", F.lit(0)))
            .cast("long").alias("new_docs"),
            ((F.coalesce("d_links", F.lit(0)) != 0) | (F.coalesce("d_docs", F.lit(0)) != 0))
            .alias("touched"),
        )
        .where("touched")
    )


def merge_domain_counts(domain_counts: DataFrame, changes: DataFrame) -> DataFrame:
    """T4: ±1 per 0<->nonzero URI transition (UriCombineQ.java:72-77).

    Returns ``domain_changes``: (rev_domain, old_pagecount, new_pagecount)
    for every TOUCHED domain — O(delta) rows, so per-epoch telemetry like
    "domains_new" (old 0 -> new nonzero) costs no extra full-table scan
    (the round-2 metric recomputed a DISTINCT over all of uri_counts per
    tick just to count these), and the input of ``domain_counts_commit``."""
    was_zero = (F.col("old_links") == 0) & (F.col("old_docs") == 0)
    is_zero = (F.col("new_links") == 0) & (F.col("new_docs") == 0)
    d = (
        changes.withColumn("rev_domain", uri_rev_domain_col("uri"))
        .withColumn(
            "d_count",
            F.when(was_zero & ~is_zero, F.lit(1))
            .when(~was_zero & is_zero, F.lit(-1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .where(F.col("d_count") != 0)
        .groupBy("rev_domain")
        .agg(F.sum("d_count").alias("d_count"))
    )
    merged = domain_counts.join(d, "rev_domain", "full_outer").select(
        "rev_domain",
        F.coalesce("pagecount", F.lit(0)).cast("long").alias("old_pagecount"),
        (F.coalesce("pagecount", F.lit(0)) + F.coalesce("d_count", F.lit(0)))
        .cast("long").alias("new_pagecount"),
        F.col("d_count").isNotNull().alias("touched"),
    )
    return merged.where("touched").select("rev_domain", "old_pagecount", "new_pagecount")


def _uri_rows(df: DataFrame, links_col: str, docs_col: str) -> DataFrame:
    """genUriData (IndexClient.java:292-306): the 3 rows for a non-ZERO
    (uri, links_to) — t: total row, d: rank row, p: incount."""
    nz = df.where((F.col(links_col) != 0) | (F.col(docs_col) != 0)).select(
        "uri",
        F.col(links_col).alias("links_to"),
        rev_encode(F.col(links_col)).alias("enc"),
        uri_rev_domain_col("uri").alias("rev_domain"),
    )
    t = nz.select(
        F.concat(F.lit("t:"), F.col("enc"), F.lit(":"), F.col("uri")).alias("row"),
        F.lit("").alias("cf"), F.lit("").alias("cq"),
        F.col("links_to").cast("string").alias("v"),
    )
    d = nz.select(
        F.concat(F.lit("d:"), F.col("rev_domain"), F.lit(":"), F.col("enc"),
                 F.lit(":"), F.col("uri")).alias("row"),
        F.lit("rank").alias("cf"), F.lit("").alias("cq"),
        F.col("links_to").cast("string").alias("v"),
    )
    p = nz.select(
        F.concat(F.lit("p:"), F.col("uri")).alias("row"),
        F.lit("page").alias("cf"), F.lit("incount").alias("cq"),
        F.col("links_to").cast("string").alias("v"),
    )
    return t.unionByName(d).unionByName(p)


def index_row_mutations(
    changes: DataFrame,
    domain_changes: DataFrame,
    page_mutations: DataFrame,
):
    """T5 mutation generator: returns ``(inserts, delete_keys)`` — the
    delta-sized row sets an Iceberg ``MERGE INTO index_rows`` consumes
    (AccumuloTranslator.generateMutations semantics: old rows removed,
    new rows inserted, last-writer-wins per (row, cf, cq)).

    Every input is delta-sized: ``changes`` = touched uris,
    ``domain_changes`` = touched domains (rev_domain, old_pagecount,
    new_pagecount — from ``merge_domain_counts``),
    ``page_mutations`` = this batch's pages.  Deriving the domain rows
    from the TOUCHED slice instead of the full old/next tables keeps the
    mutation volume O(delta) — untouched domains previously produced
    identical delete+reinsert no-op pairs, an O(all-domains) cost per
    tick the reference never pays (IndexClient.genDomainMutations runs
    per exported DomainUpdate only)."""
    # uri-derived rows
    old_uri_rows = _uri_rows(changes, "old_links", "old_docs")
    new_uri_rows = _uri_rows(changes, "new_links", "new_docs")

    # domain pagecount rows for TOUCHED domains only (0-valued sides
    # produce no row, genDomainData parity)
    def _dom_rows(col: str) -> DataFrame:
        return domain_changes.where(F.col(col) != 0).select(
            F.concat(F.lit("d:"), F.col("rev_domain")).alias("row"),
            F.lit("domain").alias("cf"), F.lit("pagecount").alias("cq"),
            F.col(col).cast("string").alias("v"),
        )

    old_dom = _dom_rows("old_pagecount")
    new_dom = _dom_rows("new_pagecount")

    # page rows (genPageMutations): page:cur put/delete + inlinks add/delete
    puts = page_mutations.where(F.col("op") != "delete")
    page_cur_new = puts.select(
        F.concat(F.lit("p:"), F.col("uri")).alias("row"),
        F.lit("page").alias("cf"), F.lit("cur").alias("cq"),
        page_json(F.col("next_page")).alias("v"),
    )
    page_cur_del_keys = page_mutations.select(
        F.concat(F.lit("p:"), F.col("uri")).alias("row"),
        F.lit("page").alias("cf"), F.lit("cur").alias("cq"),
    )
    inlinks_new = page_mutations.select(
        F.col("uri").alias("src"), F.explode("added_links").alias("l")
    ).select(
        F.concat(F.lit("p:"), F.col("l.uri")).alias("row"),
        F.lit("inlinks").alias("cf"), F.col("src").alias("cq"),
        F.col("l.anchor_text").alias("v"),
    )
    inlinks_del_keys = page_mutations.select(
        F.col("uri").alias("src"), F.explode("deleted_links").alias("l")
    ).select(
        F.concat(F.lit("p:"), F.col("l.uri")).alias("row"),
        F.lit("inlinks").alias("cf"), F.col("src").alias("cq"),
    )

    inserts = (
        new_uri_rows.unionByName(new_dom)
        .unionByName(page_cur_new)
        .unionByName(inlinks_new)
    )
    delete_keys = (
        old_uri_rows.select("row", "cf", "cq")
        .unionByName(old_dom.select("row", "cf", "cq"))
        .unionByName(page_cur_del_keys)
        .unionByName(inlinks_del_keys)
        .unionByName(inserts.select("row", "cf", "cq"))  # last-writer-wins
        .distinct()
    )
    return inserts, delete_keys


def touched(state: DataFrame, delta_keys: DataFrame, key: str) -> DataFrame:
    """The rows of ``state`` whose ``key`` occurs in ``delta_keys``."""
    # Every join of delta data against a state table goes through this
    # broadcast SEMI join first, so the state side is SCANNED (column-
    # pruned, shuffle-free) but never SHUFFLED — the cascade's exchanges
    # are all delta-sized.  Iceberg equivalent: MERGE INTO's on-clause
    # pushdown over a table bucketed by the merge key (storage-partitioned
    # join); at deltas too big to broadcast a deployment relies on that
    # bucket co-location, and the semantics are identical either way.
    return state.join(F.broadcast(delta_keys.select(key)), key, "left_semi")


def _split(df: DataFrame, live: F.Column, keys: list[str], *cols):
    """A merge commit's ``(upserts, merge_keys, deletes)``: rows where
    ``live`` holds are upserted as ``cols``, the rest delete their key."""
    return df.where(live).select(*cols), keys, df.where(~live).select(*keys)


def uri_counts_commit(changes: DataFrame):
    """uri_counts' merge commit from ``merge_uri_counts``' changes: a uri
    whose counters sum to ZERO is deleted (UriInfo.reduce:76-82)."""
    return _split(
        changes, (F.col("new_links") != 0) | (F.col("new_docs") != 0), ["uri"],
        "uri", F.col("new_links").alias("links_to"), F.col("new_docs").alias("docs"),
    )


def domain_counts_commit(domain_changes: DataFrame):
    """domain_counts' merge commit from ``merge_domain_counts``' changes: a
    domain reaching pagecount 0 is deleted (genDomainData emits nothing)."""
    return _split(
        domain_changes, F.col("new_pagecount") != 0, ["rev_domain"],
        "rev_domain", F.col("new_pagecount").alias("pagecount"),
    )


def cascade(
    index_pages: DataFrame,
    uri_counts: DataFrame,
    domain_counts: DataFrame,
    deltas: DataFrame,
    mat: Materializer,
):
    """T2-T5 for one ``DELTA_SCHEMA`` batch (at most one row per uri)
    against the pinned prior state, its reused frames cut through
    ``mat``.  Returns ``(outputs, feed)``:
    ``outputs`` maps each ``STATE_SCHEMAS`` table to the delta-sized
    ``(upserts, merge_keys, deletes)`` of its ``mode="merge"`` commit
    (the ``MERGE INTO`` statements in sources/iceberg_sql.py), and
    ``feed`` is ``(page_mutations, changes, domain_changes)``, the input
    of ``frontier.epoch_meters``."""
    # index_rows is never read: its mutations come from delta-sized inputs
    # alone, so the engine's largest table costs zero scan per batch.
    # Each delta frame that feeds both a state slice and a merge is cut
    # through ``mat`` (a lazy local checkpoint): uncut, the sliced-state-
    # joins-delta shape nests the delta's plan inside the slice's plan and
    # the logical plan grows 2^stages.  A lazy cut replaces the plan just
    # as an eager one does, but the first job that consumes the frame
    # materializes and caches it instead of a barrier job per frame.  The
    # frames are delta-sized, so a cut costs the delta, never the state,
    # and the caller's scope releases them once its commit has run.
    deltas = mat(deltas)
    uri_deltas, page_mutations = diff_pages(touched(index_pages, deltas, "uri"), deltas, mat)
    uri_deltas = mat(uri_deltas)
    changes = mat(merge_uri_counts(touched(uri_counts, uri_deltas, "uri"), uri_deltas))
    touched_domains = changes.select(uri_rev_domain_col("uri").alias("rev_domain")).distinct()
    domain_changes = mat(merge_domain_counts(
        touched(domain_counts, touched_domains, "rev_domain"), changes
    ))
    inserts, delete_keys = index_row_mutations(changes, domain_changes, page_mutations)
    outputs = {
        "index_pages": _split(
            deltas, F.col("op") != "delete", ["uri"], *PAGE_SCHEMA.fieldNames()
        ),
        "index_rows": (inserts, ["row", "cf", "cq"], delete_keys),
        "domain_counts": domain_counts_commit(domain_changes),
        "uri_counts": uri_counts_commit(changes),
    }
    return outputs, (page_mutations, changes, domain_changes)


def reconcile(state: DataFrame, upserts: DataFrame, keys: list[str], deletes: DataFrame):
    """One merge commit applied to a full state table: every row whose key
    is upserted or deleted goes, then the upserts are added — the same
    merge-on-read rule ``SnapshotTable.read`` applies to a merge chain."""
    gone = upserts.select(*keys).unionByName(deletes.select(*keys))
    return state.join(gone, keys, "left_anti").unionByName(upserts)


def apply_page_deltas(pages_state, uri_counts, domain_counts, index_rows, deltas, mat):
    """One full-state tick: ``cascade`` (cut through ``mat``) reconciled
    against each table.  Returns (pages_next, uri_counts_next,
    domain_counts_next, index_rows_next)."""
    outputs, _ = cascade(pages_state, uri_counts, domain_counts, deltas, mat)
    return tuple(
        reconcile(df, *outputs[t]) for df, t in zip(
            (pages_state, uri_counts, domain_counts, index_rows),
            ("index_pages", "uri_counts", "domain_counts", "index_rows"),
        )
    )
