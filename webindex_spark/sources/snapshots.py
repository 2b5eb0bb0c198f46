"""Snapshot-committed parquet tables — the engine's checkpoint substrate.

The north rule requires frontier state, dedup filters, and per-partition
lineage/metrics to "checkpoint to Iceberg snapshots so a killed run resumes
without refetching".  No Iceberg runtime jar exists in this sandbox
(pyspark 4.1.2 ships none, and there is no network for ``--packages``), so
the engine writes through this seam instead (SURVEY.md §7.3): on a real
cluster you point the same call sites at Iceberg (``df.writeTo(...)`` /
``MERGE INTO``); locally this class provides the exact transactional
properties the resume logic relies on:

  * **atomic commit**: data is fully written to an immutable
    ``snap-NNNNN`` directory plus a manifest before a single atomic
    ``os.replace`` of the HEAD pointer publishes it; a kill at ANY earlier
    point leaves HEAD on the previous snapshot (orphan dirs are ignored
    and reclaimed by the next commit attempt);
  * **snapshot isolation / time travel**: readers name a snapshot id or
    take HEAD; ids are monotonically increasing ints (≡ Iceberg
    snapshot-id / sequence-number);
  * **lineage + metrics in the manifest**: each commit records the input
    snapshots it was computed from and the engine's per-partition meter
    values (BASELINE.md's ten webindex meter names), so "which partitions
    already processed epoch E" is answerable without re-reading data —
    that is the per-partition lineage check FIXTURES.md §7 asks for;
  * **schema in the manifest** (Iceberg table metadata): ``read`` plans
    every segment scan from the recorded schema, so building a read
    launches no Spark job (no per-segment parquet-footer inference), and
    an append/merge commit whose columns disagree with it is refused
    before anything is written;
  * **one epoch commit** (``Catalog.commit_epoch``): a crawl epoch or a
    stream micro-batch publishes all its tables in one overlapped commit,
    done once every table's HEAD carries the epoch (``Catalog.done``).

This mirrors the role Fluo's MVCC transactions + sequenced export queue
play in the reference (PageObserver.java:72-124, IndexClient.java:250-306):
a deterministic job re-run after a crash is idempotent because its output
commit either already happened (resume skips it) or never published.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from functools import partial, reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def overlapped(calls: dict) -> None:
    """Run ``{name: call}`` on driver threads; raise the first error only
    once all calls ended, with a note per failed call."""
    # draining first means a replay never runs beside a straggler commit;
    # the first error keeps its type, the notes hide no other failure
    if not calls:
        return
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futs = {name: pool.submit(call) for name, call in calls.items()}
    errs = {name: f.exception() for name, f in futs.items() if f.exception()}
    if errs:
        first = next(iter(errs.values()))
        for name, e in errs.items():
            first.add_note(f"{name} failed: {type(e).__name__}: {e}")
        raise first


def _types(schema: StructType) -> dict:
    # name -> type, blind to nullability and column order
    return {f.name: f.dataType.simpleString() for f in schema.fields}


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    # ------------------------------------------------------------- pointers

    @property
    def _head_path(self) -> str:
        return os.path.join(self.dir, "_HEAD")

    def head(self) -> int | None:
        """Current committed snapshot id, or None for an empty table."""
        try:
            with open(self._head_path, encoding="utf-8") as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _snap_dir(self, sid: int) -> str:
        return os.path.join(self.dir, f"snap-{sid:05d}")

    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.dir, f"manifest-{sid:05d}.json")

    # --------------------------------------------------------------- reads

    def exists(self) -> bool:
        return self.head() is not None

    def read(self, spark: SparkSession, snapshot: int | None = None) -> DataFrame:
        """Current rows of the table AS OF ``snapshot`` (default HEAD).

        Plain/append snapshots are a straight multi-segment parquet scan.
        Snapshots whose chain contains ``mode="merge"`` commits are
        reconciled merge-on-read, exactly like Iceberg equality deletes:
        a delete key written at sequence ``s`` removes every matching row
        in segments with sequence ``< s`` (an upsert is delete+insert at
        the same sequence, so its own rows survive while every older
        version of the key dies).  The reconciliation is one delta-sized
        aggregate plus one key-partitioned left join — no window, because
        each merge commit carries at most one row per key.
        """
        sid = self.head() if snapshot is None else snapshot
        if sid is None:
            raise FileNotFoundError(f"table {self.name} has no committed snapshot")
        man = self.manifest(sid)
        # a manifest written before schemas were recorded infers from files
        schema = StructType.fromJson(man["schema"]) if "schema" in man else None

        def scan(paths, schema=schema):
            reader = spark.read if schema is None else spark.read.schema(schema)
            return reader.parquet(*[os.path.join(self.dir, p) for p in paths])

        segs = man.get("segments")
        deletes = man.get("delete_segments") or []
        merge_segs = man.get("merge_segments") or []
        if not deletes and not merge_segs:
            return scan(segs or [self._snap_dir(sid)])
        keys = man["merge_keys"]
        key_schema = schema and StructType([schema[k] for k in keys])
        parts = [
            scan([s]).withColumn("__seq", F.lit(i).cast("long"))
            for i, s in enumerate(segs)
        ]
        rows = reduce(DataFrame.unionByName, parts)
        cols = [c for c in rows.columns if c != "__seq"]
        # tombstones: explicit delete-key segments, plus the keys of every
        # merge data segment (upsert = delete old versions + insert new)
        merge_seq = {s: i for i, s in enumerate(segs)}
        tomb_parts = [
            scan([s], key_schema).select(*keys)
            .withColumn("__tseq", F.lit(int(seq)).cast("long"))
            for s, seq in deletes
        ] + [
            scan([s], key_schema).select(*keys)
            .withColumn("__tseq", F.lit(merge_seq[s]).cast("long"))
            for s in merge_segs
        ]
        tombs = reduce(DataFrame.unionByName, tomb_parts)
        max_tomb = tombs.groupBy(*keys).agg(F.max("__tseq").alias("__mt"))
        return (
            rows.join(max_tomb, keys, "left")
            .where(F.col("__mt").isNull() | (F.col("__seq") >= F.col("__mt")))
            .select(*cols)
        )

    def manifest(self, snapshot: int | None = None) -> dict:
        sid = self.head() if snapshot is None else snapshot
        with open(self._manifest_path(sid), encoding="utf-8") as f:
            return json.load(f)

    def history(self) -> list[dict]:
        out = []
        sid = self.head()
        while sid is not None:
            m = self.manifest(sid)
            out.append(m)
            sid = m.get("parent")
        return list(reversed(out))

    # -------------------------------------------------------------- commits

    def commit(
        self,
        df: DataFrame,
        *,
        epoch: int | None = None,
        lineage: dict | None = None,
        metrics: dict | None = None,
        partition_metrics: list | None = None,
        mode: str = "full",
        merge_keys: list[str] | None = None,
        deletes: DataFrame | None = None,
        extra: dict | None = None,
    ) -> int:
        """Write ``df`` as the next snapshot; returns its id.

        ``mode="full"``: ``df`` is the complete table state (Iceberg
        overwrite).  ``mode="append"``: ``df`` is only the NEW rows; the
        snapshot's manifest references the parent's immutable segments
        plus the freshly-written one, so the commit cost is O(delta)
        rows, never O(table) — this is how the engine's monotone tables
        (seen, fetch_log, pages_state, fetched_images) avoid the
        quadratic write volume a full-state rewrite per epoch would cost
        (Iceberg equivalent: ``df.writeTo(t).append()``, a fast-append
        snapshot whose manifest list points at the prior manifests).

        ``mode="merge"``: ``df`` carries only the UPSERTED rows (at most
        one row per ``merge_keys`` value) and ``deletes`` only the keys
        of rows removed outright; the commit writes both as delta-sized
        segments and the manifest stitches them onto the parent's — the
        local model of an Iceberg ``MERGE INTO`` with merge-on-read
        equality deletes (the exact statements in
        ``sources/iceberg_sql.MERGE_TABLES``).  Commit cost is O(delta)
        regardless of table size; ``read()`` reconciles.  This is how the
        engine's MUTATING state tables (uri_counts, domain_counts,
        frontier, index_rows, index_pages) avoid the O(state)-per-epoch
        rewrite the reference's Fluo CFM also avoids by touching only
        dirtied buckets (UriCombineQ.java:87-90).  ``compact()`` folds
        the chain back to one segment when read amplification grows.

        Either way the write lands in a scratch dir first, is renamed to
        its immutable location, the manifest is written, and only then
        does the atomic HEAD replace publish the snapshot.  The manifest
        records the table schema; an append/merge ``df`` must match the
        parent's column names and types (nullability and column order
        aside), else ``ValueError`` is raised before anything is written.
        """
        if mode not in ("full", "append", "merge"):
            raise ValueError(f"unknown commit mode {mode!r}")
        if mode == "merge" and not merge_keys:
            raise ValueError("mode='merge' requires merge_keys")
        parent = self.head()
        sid = (parent or 0) + 1
        parent_man = self.manifest(parent) if parent is not None else {}
        if mode == "merge" and parent_man.get("merge_keys") not in (None, merge_keys):
            raise ValueError(
                f"merge_keys {merge_keys} != parent's {parent_man['merge_keys']}"
            )
        schema = df.schema.jsonValue()
        if mode != "full" and "schema" in parent_man:
            # new segments must read under the parent's schema; keeping it
            # keeps the read column order that of the first segment
            schema = parent_man["schema"]
            want, got = _types(StructType.fromJson(schema)), _types(df.schema)
            if got != want:
                raise ValueError(
                    f"table {self.name}: {mode} frame columns {got} != "
                    f"table schema {want}"
                )
        tmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(tmp)
        target = self._snap_dir(sid)
        if os.path.exists(target):  # orphan from a killed earlier attempt
            shutil.rmtree(target)
        os.replace(tmp, target)
        own_seg = os.path.basename(target)
        parent_segs = parent_man.get(
            "segments",
            [os.path.basename(self._snap_dir(parent))] if parent is not None else [],
        )
        merge_segments = list(parent_man.get("merge_segments") or [])
        delete_segments = list(parent_man.get("delete_segments") or [])
        if mode == "append" and parent is not None:
            segments = parent_segs + [own_seg]
        elif mode == "merge":
            segments = parent_segs + [own_seg]
            merge_segments.append(own_seg)
            if deletes is not None:
                dtmp = os.path.join(self.dir, f".tmp-{uuid.uuid4().hex}")
                deletes.select(*merge_keys).write.mode("overwrite").parquet(dtmp)
                dtarget = os.path.join(self.dir, f"snap-{sid:05d}-deletes")
                if os.path.exists(dtarget):
                    shutil.rmtree(dtarget)
                os.replace(dtmp, dtarget)
                # the delete segment shares its data segment's sequence:
                # it kills strictly-older versions only
                delete_segments.append(
                    [os.path.basename(dtarget), len(segments) - 1]
                )
        else:  # full: truncate-and-replace, chain state resets
            segments = [own_seg]
            merge_segments = []
            delete_segments = []
        man = {
            "table": self.name,
            "snapshot": sid,
            "parent": parent,
            "epoch": epoch,
            "mode": mode,
            "segments": segments,
            "lineage": lineage or {},
            "metrics": metrics or {},
            "partition_metrics": partition_metrics or [],
            "schema": schema,
        }
        if mode == "merge" or merge_segments or delete_segments:
            man["merge_keys"] = merge_keys or parent_man.get("merge_keys")
            man["merge_segments"] = merge_segments
            man["delete_segments"] = delete_segments
        if extra:
            man.update(extra)
        with open(self._manifest_path(sid), "w", encoding="utf-8") as f:
            json.dump(man, f)
        head_tmp = self._head_path + f".tmp-{uuid.uuid4().hex}"
        with open(head_tmp, "w", encoding="utf-8") as f:
            f.write(str(sid))
        os.replace(head_tmp, self._head_path)  # the commit point
        return sid

    def compact(self, spark: SparkSession) -> int:
        """Fold the segment chain back into ONE full segment (Iceberg
        rewrite_data_files): commits the reconciled state ``mode="full"``
        with HEAD's epoch tag, lineage and meters, marked ``compaction``.
        Amortizes merge-on-read amplification; safe at any point because
        readers of older snapshots keep their immutable segment lists."""
        head_man = self.manifest()
        return self.commit(
            self.read(spark),
            epoch=head_man.get("epoch"),
            lineage=head_man.get("lineage"),
            metrics=head_man.get("metrics"),
            partition_metrics=head_man.get("partition_metrics"),
            mode="full",
            extra={"compaction": True},
        )

    def rollback(self, snapshot: int) -> None:
        """Move HEAD back to an earlier snapshot (crash simulation/tests)."""
        if not os.path.exists(self._snap_dir(snapshot)):
            raise FileNotFoundError(f"snapshot {snapshot} does not exist")
        head_tmp = self._head_path + f".tmp-{uuid.uuid4().hex}"
        with open(head_tmp, "w", encoding="utf-8") as f:
            f.write(str(snapshot))
        os.replace(head_tmp, self._head_path)

    def epoch_of_head(self) -> int | None:
        sid = self.head()
        return None if sid is None else self.manifest(sid).get("epoch")

    def snapshot_before_epoch(self, epoch: int) -> int | None:
        """Latest snapshot committed for an epoch strictly below ``epoch``
        (walking parents from HEAD); snapshots without an epoch tag count
        as older than any tagged one.

        This is the read-pinning a multi-table transaction needs for
        idempotent replay: a re-run of epoch/batch E must read every input
        table AS OF the pre-E state, even when a previous crashed attempt
        already pushed some table's HEAD to E (Iceberg equivalent:
        ``VERSION AS OF`` the snapshot preceding E's commit).

        Untagged snapshots are accepted only at the chain ROOT (the
        initial-state commit): an untagged commit that landed mid-chain
        (e.g. a manual write between micro-batches) has no defined
        position in epoch time, and silently treating it as "older than
        everything" could pin replay to post-batch state — so the walk
        raises instead of guessing."""
        sid = self.head()
        while sid is not None:
            m = self.manifest(sid)
            e = m.get("epoch")
            if e is None:
                if m.get("parent") is not None:
                    raise ValueError(
                        f"table {self.name}: untagged snapshot {sid} mid-chain — "
                        "cannot order it against epochs; tag every commit"
                    )
                return sid
            if e < epoch:
                return sid
            sid = m.get("parent")
        return None

    def read_before_epoch(self, spark: SparkSession, epoch: int) -> DataFrame:
        """``read`` pinned at ``snapshot_before_epoch(epoch)``: the input
        read of a crawl epoch and of a stream micro-batch."""
        # after a compaction this is the compacted snapshot (same epoch
        # tag, newer id), so the next epoch reads one segment, not the chain
        sid = self.snapshot_before_epoch(epoch)
        if sid is None:
            raise FileNotFoundError(
                f"table {self.name} has no snapshot below epoch {epoch}"
            )
        return self.read(spark, sid)


class Catalog:
    """A directory of SnapshotTables — the engine's 'warehouse'."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.root, name)

    def done(self, tables, epoch: int) -> bool:
        """Whether every table's HEAD is tagged ``epoch`` or later."""
        heads = [self.table(t).epoch_of_head() for t in tables]
        return all(e is not None and e >= epoch for e in heads)

    def commit_epoch(self, spark: SparkSession, epoch: int, outputs: dict, *,
                     compact: bool = False, **manifest) -> None:
        """Commit ``{table: (df, mode, merge_keys, deletes)}`` as ``epoch``
        with the shared ``manifest`` kwargs, overlapped in dict order, then
        (``compact``) compact the merge tables, overlapped.  Tables already
        ``done`` are skipped, so a replay of a crashed epoch (inputs pinned
        by ``read_before_epoch``) publishes only the tables left behind."""
        todo = {t: out for t, out in outputs.items() if not self.done([t], epoch)}

        def commit(name, df, mode, merge_keys, deletes):
            t = self.table(name)  # a table's first append commits full
            mode = "full" if mode == "append" and not t.exists() else mode
            t.commit(df, epoch=epoch, mode=mode, merge_keys=merge_keys,
                     deletes=deletes, **manifest)

        overlapped({t: partial(commit, t, *out) for t, out in todo.items()})
        if compact:  # same epoch, same rows: a crash here leaves the epoch done
            overlapped({t: partial(self.table(t).compact, spark)
                        for t, out in todo.items() if out[1] == "merge"})
