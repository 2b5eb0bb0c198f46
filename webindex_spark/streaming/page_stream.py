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
  * ``foreachBatch`` + ``Catalog.commit_epoch`` (one overlapped commit of
    the four tables, skipping those already at batch_id) make the replay
    of a crashed micro-batch a no-op for tables that already published —
    the same epoch commit ``run_epoch`` makes.

The invariant the tests lock: after any sequence of micro-batches, the
streamed state equals a from-scratch batch build over all pages seen so
far (the reference's IndexIT equivalence, continuously).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from webindex_spark.operators import delta as delta_ops
from webindex_spark.operators.materialize import Materializer
from webindex_spark.sources.pages_json import GSON_PAGE_SCHEMA, gson_pages_transform
from webindex_spark.sources.snapshots import Catalog

STREAM_TABLES = ("index_pages", "uri_counts", "domain_counts", "index_rows")


def _empty_state(spark: SparkSession, cat: Catalog) -> None:
    """Commit an empty epoch -1 snapshot of every ``STREAM_TABLES`` table
    that has none."""
    # a crash that left some of the overlapped init commits unpublished is
    # finished by the next call, which skips the tables already done
    cat.commit_epoch(spark, -1, {
        t: (spark.createDataFrame([], delta_ops.STATE_SCHEMAS[t]), "full", None, None)
        for t in STREAM_TABLES
    })


def apply_page_batch(spark: SparkSession, cat: Catalog, pages: DataFrame,
                     batch_id: int) -> None:
    """One micro-batch through ``delta.cascade``, committed as snapshot
    epoch ``batch_id`` (idempotent re-entry per table)."""
    if cat.done(STREAM_TABLES, batch_id):
        return  # crashed-after-commit replay: nothing to do

    # Read every input pinned at the last snapshot BELOW batch_id, never
    # HEAD: if a crash landed part-way through the four overlapped
    # commits, some HEADs are already at batch_id (e.g. index_pages
    # published, uri_counts did not).  Reading that HEAD would diff the
    # replayed batch against already-updated state, yield empty deltas,
    # and commit stale tables as batch_id — silently losing the batch.
    # Pinning makes the replay recompute the SAME outputs the crashed
    # attempt did, and commit_epoch publishes only the tables left behind.
    def read(t: str) -> DataFrame:
        return cat.table(t).read_before_epoch(spark, batch_id)

    with Materializer() as mat:
        outputs, _ = delta_ops.cascade(
            read("index_pages"), read("uri_counts"), read("domain_counts"),
            pages.withColumn("op", F.lit("put")), mat,
        )
        # The four commits are independent of EACH OTHER (each reads its own
        # slice of the cascade's shared lazily-checkpointed delta frames), so
        # overlapping them hides the three cheap commits under index_rows'
        # deeper insert chain, and the shared lazy checkpoints are
        # materialized once by whichever consumer job gets there first
        # (BlockManager block-level locking makes the race compute-once).
        # Submitted in STREAM_TABLES order, which measured faster than the
        # cascade's: the FIFO scheduler serves earlier-submitted jobs first.
        # All four have drained when commit_epoch returns or raises, so the
        # scope's exit releases the cut frames after their last reader.
        cat.commit_epoch(
            spark, batch_id,
            {t: (outputs[t][0], "merge", *outputs[t][1:]) for t in STREAM_TABLES},
            lineage={"stream_batch": batch_id},
        )


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
