"""Streaming incremental index maintenance — the Structured Streaming
restatement of the reference's ``load-hdfs -> Fluo observer cascade``
(SURVEY.md §3.2): page-JSON files land in a directory, each micro-batch
runs ``delta.cascade`` — the SAME chain the crawl epoch runs (diff ->
UriInfo combine -> domain ±1 -> delete-old-write-new export) — and every
state table commits a snapshot tagged with the micro-batch id.

Exactly-once state maintenance comes from the same two pieces the batch
loop uses, arranged the Structured Streaming way:

  * the file source's checkpoint guarantees each input file is assigned
    to exactly one ``batch_id`` and replayed with the same id on restart;
  * ``foreachBatch`` + the snapshot tables' idempotent commit check
    (skip when the table's committed epoch >= batch_id) make the replay
    of a crashed micro-batch a no-op for tables that already published —
    the streaming twin of run_epoch's crash-resume discipline.

The invariant the tests lock: after any sequence of micro-batches, the
streamed state equals a from-scratch batch build over all pages seen so
far (the reference's IndexIT equivalence, continuously).
"""

from __future__ import annotations

from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from webindex_spark.operators import delta as delta_ops
from webindex_spark.sources.pages_json import GSON_PAGE_SCHEMA, gson_pages_transform
from webindex_spark.sources.snapshots import Catalog, overlapped

STREAM_TABLES = ("index_pages", "uri_counts", "domain_counts", "index_rows")


def _empty_state(spark: SparkSession, cat: Catalog) -> None:
    """Commit an empty epoch -1 snapshot of every ``STREAM_TABLES`` table
    that has none."""
    # every table is probed, so a crash that left some of the concurrent,
    # unordered init commits unpublished is finished by the next call;
    # each is a tiny write job of pure scheduling cost, so they overlap
    overlapped({
        t: partial(
            cat.table(t).commit,
            spark.createDataFrame([], delta_ops.STATE_SCHEMAS[t]), epoch=-1,
        )
        for t in STREAM_TABLES
        if not cat.table(t).exists()
    })


def apply_page_batch(spark: SparkSession, cat: Catalog, pages: DataFrame,
                     batch_id: int) -> None:
    """One micro-batch through ``delta.cascade``, committed as snapshot
    epoch ``batch_id`` (idempotent re-entry per table)."""

    def _epoch(t):
        e = cat.table(t).epoch_of_head()
        return -(10 ** 9) if e is None else e  # NB: epoch 0 is falsy

    if all(_epoch(t) >= batch_id for t in STREAM_TABLES):
        return  # crashed-after-commit replay: nothing to do

    # Read every input pinned at the last snapshot BELOW batch_id, never
    # HEAD: if a crash landed between the four per-table commits, some
    # HEADs are already at batch_id (e.g. index_pages committed, then
    # death before uri_counts).  Reading that HEAD would diff the replayed
    # batch against already-updated state, yield empty deltas, and commit
    # stale tables as batch_id — silently losing the batch.  Pinning makes
    # the replay recompute the SAME outputs the crashed attempt did, and
    # the per-table epoch check turns its re-commit into skip-or-publish.
    def read(t: str) -> DataFrame:
        return cat.table(t).read_before_epoch(spark, batch_id)

    outputs, _ = delta_ops.cascade(
        read("index_pages"), read("uri_counts"), read("domain_counts"),
        pages.withColumn("op", F.lit("put")),
    )
    # The four table commits are independent of EACH OTHER (each reads its
    # own slice of the cascade's shared lazily-checkpointed delta frames,
    # and the snapshot substrate publishes per-table with an atomic HEAD
    # replace), so they run overlapped: the three cheap commits hide under
    # index_rows' deeper insert chain, and the shared lazy checkpoints are
    # materialized once whichever consumer job gets there first
    # (BlockManager block-level locking makes the race compute-once).  A
    # failure in ANY commit leaves some subset of tables published at
    # batch_id — exactly the partial state the pinned replay is built for.
    # Submitted in STREAM_TABLES order: the FIFO scheduler serves the
    # earlier-submitted job's tasks first.
    overlapped({
        name: partial(
            cat.table(name).commit, outputs[name][0], epoch=batch_id,
            lineage={"stream_batch": batch_id}, mode="merge",
            merge_keys=outputs[name][1], deletes=outputs[name][2],
        )
        for name in STREAM_TABLES
        if _epoch(name) < batch_id
    })


def start_page_stream(spark: SparkSession, input_dir: str, cat: Catalog,
                      checkpoint_dir: str, available_now: bool = True,
                      max_files_per_trigger: int | None = None):
    """readStream(json lines) -> foreachBatch(delta engine) -> snapshots.

    ``available_now=True`` drains everything currently in ``input_dir``
    and stops (the batch-replay mode tests use); ``False`` runs the
    continuous micro-batch loop.  ``max_files_per_trigger`` bounds each
    micro-batch's file intake (honored by availableNow since Spark 3.3),
    forcing a multi-batch replay over a pre-staged directory — the
    oracle gate uses it to certify the incremental cascade across
    several real micro-batches rather than one drain.
    """
    _empty_state(spark, cat)
    reader = spark.readStream.schema(GSON_PAGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(input_dir)
    pages = gson_pages_transform(raw)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_page_batch(spark, cat, batch_df, batch_id)

    writer = (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
