"""mode="merge" snapshot commits — the executed O(delta) path for the
MUTATING state tables (the local model of Iceberg MERGE INTO with
merge-on-read equality deletes; statements in sources/iceberg_sql.py).

Contract under test:
  * a merge commit writes ONLY upsert rows + delete keys (delta-sized
    segments) — never the table state;
  * read() reconciles: newest version of each key wins, deleted keys
    disappear, older snapshots still read their exact historical state;
  * compact() folds the chain to one segment without changing the
    visible rows or the epoch tag;
  * guard rails: merge_keys immutability, merge without keys rejected,
    untagged mid-chain snapshots rejected by epoch-pinned reads, a frame
    whose column types disagree with the table's schema rejected;
  * the manifest's schema plans every read: building one launches no
    Spark job, and a manifest without a schema still reads by inference.
"""

import json
import os
import uuid

import pytest

from webindex_spark.sources.snapshots import Catalog


def rows_of(df):
    return {tuple(r) for r in df.collect()}


def mk(spark, pairs):
    return spark.createDataFrame(
        [{"uri": u, "v": v} for u, v in pairs], "uri string, v long"
    )


def keys(spark, uris):
    return spark.createDataFrame([{"uri": u} for u in uris], "uri string")


@pytest.fixture()
def table(tmp_path):
    return Catalog(str(tmp_path / "cat")).table("t")


def test_merge_upsert_delete_reconciles(spark, table):
    table.commit(mk(spark, [("a", 1), ("b", 2), ("c", 3)]), epoch=0)
    s1 = table.commit(
        mk(spark, [("b", 20), ("d", 40)]),  # update b, insert d
        epoch=1, mode="merge", merge_keys=["uri"], deletes=keys(spark, ["c"]),
    )
    assert rows_of(table.read(spark)) == {("a", 1), ("b", 20), ("d", 40)}
    # a second merge over the first: re-update d, delete b, insert e
    table.commit(
        mk(spark, [("d", 41), ("e", 5)]),
        epoch=2, mode="merge", merge_keys=["uri"], deletes=keys(spark, ["b"]),
    )
    assert rows_of(table.read(spark)) == {("a", 1), ("d", 41), ("e", 5)}
    # time travel: the intermediate snapshot still reads its exact state
    assert rows_of(table.read(spark, s1)) == {("a", 1), ("b", 20), ("d", 40)}
    # column order is stable across the reconciling read
    assert table.read(spark).columns == ["uri", "v"]


def test_merge_commit_is_delta_sized(spark, table):
    """The commit writes upserts + deletes only — O(delta), not O(state)."""
    table.commit(mk(spark, [(f"u{i}", i) for i in range(500)]), epoch=0)
    table.commit(
        mk(spark, [("u1", -1)]), epoch=1,
        mode="merge", merge_keys=["uri"], deletes=keys(spark, ["u2"]),
    )
    man = table.manifest()
    seg = os.path.join(table.dir, man["merge_segments"][-1])
    assert spark.read.parquet(seg).count() == 1
    dseg = os.path.join(table.dir, man["delete_segments"][-1][0])
    assert spark.read.parquet(dseg).count() == 1
    got = rows_of(table.read(spark))
    assert ("u1", -1) in got and not any(t[0] == "u2" for t in got)
    assert len(got) == 499


def test_compact_preserves_state_and_epoch(spark, table):
    table.commit(mk(spark, [("a", 1), ("b", 2)]), epoch=0)
    table.commit(
        mk(spark, [("a", 10)]), epoch=1,
        mode="merge", merge_keys=["uri"], deletes=keys(spark, ["b"]),
    )
    before = rows_of(table.read(spark))
    table.compact(spark)
    man = table.manifest()
    assert man.get("compaction") is True
    assert man["epoch"] == 1  # same epoch tag: resume logic unaffected
    assert len(man["segments"]) == 1 and not man.get("delete_segments")
    assert rows_of(table.read(spark)) == before
    # and a further merge on top of the compacted base still works
    table.commit(
        mk(spark, [("c", 3)]), epoch=2, mode="merge", merge_keys=["uri"],
    )
    assert rows_of(table.read(spark)) == {("a", 10), ("c", 3)}


def test_append_segments_interleave_with_merge(spark, table):
    table.commit(mk(spark, [("a", 1)]), epoch=0)
    table.commit(mk(spark, [("b", 2)]), epoch=1, mode="append")
    table.commit(
        mk(spark, [("a", 9)]), epoch=2, mode="merge", merge_keys=["uri"],
        deletes=keys(spark, ["b"]),
    )
    assert rows_of(table.read(spark)) == {("a", 9)}


def test_merge_guard_rails(spark, table):
    with pytest.raises(ValueError, match="merge_keys"):
        table.commit(mk(spark, [("a", 1)]), mode="merge")
    table.commit(mk(spark, [("a", 1)]), epoch=0, mode="merge", merge_keys=["uri"])
    with pytest.raises(ValueError, match="merge_keys"):
        table.commit(
            mk(spark, [("a", 2)]), epoch=1, mode="merge", merge_keys=["v"]
        )


def test_untagged_midchain_snapshot_rejected(spark, table):
    """An epoch-less commit landing mid-chain has no position in epoch
    time; epoch-pinned replay must refuse to guess (ADVICE round 3)."""
    table.commit(mk(spark, [("a", 1)]))           # untagged ROOT: fine
    merged = table.commit(
        mk(spark, [("a", 2)]), epoch=1, mode="merge", merge_keys=["uri"]
    )
    assert table.snapshot_before_epoch(2) == merged
    # after a compaction the next epoch's pinned read is the compaction
    # snapshot (same epoch tag), not the folded merge chain
    compacted = table.compact(spark)
    assert table.snapshot_before_epoch(2) == compacted
    assert rows_of(table.read_before_epoch(spark, 2)) == {("a", 2)}
    assert len(table.manifest(compacted)["segments"]) == 1
    empty = Catalog(os.path.dirname(table.dir)).table("empty")
    with pytest.raises(FileNotFoundError, match="no snapshot below epoch 2"):
        empty.read_before_epoch(spark, 2)
    table.commit(mk(spark, [("a", 3)]))           # untagged mid-chain
    with pytest.raises(ValueError, match="untagged"):
        table.snapshot_before_epoch(2)


def _jobs_of(spark, fn):
    """Job ids launched while ``fn`` runs under a fresh job group."""
    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("chain", ["full", "append", "merge"])
def test_reads_plan_from_manifest_schema_without_jobs(spark, table, chain):
    """Iceberg plans a scan from its table metadata; so does ``read``:
    neither ``read`` nor ``read_before_epoch`` opens a parquet footer."""
    table.commit(mk(spark, [("a", 1), ("b", 2)]), epoch=0)
    if chain == "append":
        table.commit(mk(spark, [("c", 3)]), epoch=1, mode="append")
    if chain == "merge":
        table.commit(
            mk(spark, [("a", 10)]), epoch=1, mode="merge", merge_keys=["uri"],
            deletes=keys(spark, ["b"]),
        )
        assert table.manifest()["delete_segments"]
    for read in (lambda: table.read(spark),
                 lambda: table.read_before_epoch(spark, 2)):
        assert _jobs_of(spark, read) == [], chain
    want = {"full": {("a", 1), ("b", 2)},
            "append": {("a", 1), ("b", 2), ("c", 3)},
            "merge": {("a", 10)}}[chain]
    assert rows_of(table.read(spark)) == want
    assert table.read(spark).columns == ["uri", "v"]


@pytest.mark.parametrize("mode", ["append", "merge"])
def test_commit_with_mismatched_column_type_rejected(spark, table, mode):
    """A frame whose column types disagree with the recorded schema is
    refused before anything is written: HEAD stays, no snap dir appears."""
    table.commit(mk(spark, [("a", 1)]), epoch=0)
    head = table.head()
    bad = spark.createDataFrame([("b", "2")], "uri string, v string")
    with pytest.raises(ValueError, match="schema"):
        table.commit(bad, epoch=1, mode=mode, merge_keys=["uri"])
    assert table.head() == head
    assert sorted(d for d in os.listdir(table.dir) if d.startswith("snap-")) == [
        "snap-00001"
    ]
    # nullability and column order are not part of the check
    table.commit(
        spark.createDataFrame([(2, "b")], "v long not null, uri string"),
        epoch=1, mode=mode, merge_keys=["uri"],
    )
    assert table.read(spark).columns == ["uri", "v"]
    assert rows_of(table.read(spark)) == {("a", 1), ("b", 2)}


def test_manifest_without_schema_reads_by_inference(spark, table):
    """A catalog written before manifests carried a schema still reads
    the same rows, so a killed crawl from that code resumes."""
    table.commit(mk(spark, [("a", 1), ("b", 2)]), epoch=0)
    table.commit(
        mk(spark, [("a", 10)]), epoch=1, mode="merge", merge_keys=["uri"],
        deletes=keys(spark, ["b"]),
    )
    want = rows_of(table.read(spark))
    for sid in (1, 2):
        path = table._manifest_path(sid)
        with open(path, encoding="utf-8") as f:
            man = json.load(f)
        del man["schema"]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(man, f)
    assert rows_of(table.read(spark)) == want == {("a", 10)}
    assert rows_of(table.read(spark, 1)) == {("a", 1), ("b", 2)}
