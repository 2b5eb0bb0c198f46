"""Streaming incremental index == batch recompute (the IndexIT invariant,
continuously): page-JSON files drain through foreachBatch + the delta
engine into snapshot tables; restarts and replays are idempotent."""

import os

import pytest

from webindex_spark.operators import index_batch
from webindex_spark.sources.pages_json import read_pages_json
from webindex_spark.sources.snapshots import Catalog, SnapshotTable
from webindex_spark.streaming import page_stream


def _snap(df):
    return {tuple(r) for r in df.collect()}


def test_stream_matches_batch_recompute(spark, tmp_path):
    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    lines = [l for l in open(fixture, encoding="utf-8").read().splitlines() if l]
    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    (in_dir / "a.json").write_text("\n".join(lines[:2]) + "\n")
    (in_dir / "b.json").write_text("\n".join(lines[2:4]) + "\n")

    cat = Catalog(str(tmp_path / "cat"))
    q = page_stream.start_page_stream(spark, str(in_dir), cat, str(ckpt))
    q.awaitTermination(120)

    def batch_state(n_files_pages):
        uc, dc, rows = index_batch.build_index(n_files_pages, cache=False)
        return _snap(uc), _snap(dc), _snap(rows)

    pages4 = read_pages_json(spark, str(in_dir))
    want_uc, want_dc, want_rows = batch_state(pages4)
    assert _snap(cat.table("uri_counts").read(spark)) == want_uc
    assert _snap(cat.table("domain_counts").read(spark)) == want_dc
    assert _snap(cat.table("index_rows").read(spark)) == want_rows

    # more data arrives; a NEW query over the same checkpoint resumes and
    # processes only the new file
    (in_dir / "c.json").write_text("\n".join(lines[4:]) + "\n")
    q2 = page_stream.start_page_stream(spark, str(in_dir), cat, str(ckpt))
    q2.awaitTermination(120)
    pages5 = read_pages_json(spark, str(in_dir))
    want_uc5, _dc5, want_rows5 = batch_state(pages5)
    assert _snap(cat.table("uri_counts").read(spark)) == want_uc5
    assert _snap(cat.table("index_rows").read(spark)) == want_rows5


def _two_files(tmp_path):
    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    lines = [l for l in open(fixture, encoding="utf-8").read().splitlines() if l]
    f_a, f_b = tmp_path / "a.json", tmp_path / "b.json"
    f_a.write_text("\n".join(lines[:2]) + "\n")
    f_b.write_text("\n".join(lines[2:]) + "\n")
    return f_a, f_b


def _assert_equals_batch(spark, cat, pages):
    want_uc, want_dc, want_rows = (
        _snap(d) for d in index_batch.build_index(pages, cache=False)
    )
    assert _snap(cat.table("uri_counts").read(spark)) == want_uc
    assert _snap(cat.table("domain_counts").read(spark)) == want_dc
    assert _snap(cat.table("index_rows").read(spark)) == want_rows


@pytest.mark.parametrize("crashed", page_stream.STREAM_TABLES)
def test_partial_crash_replay_recovers_all_tables(
    spark, tmp_path, monkeypatch, fail_commits, crashed
):
    """Crash ONE of the four overlapped commits of a micro-batch: the
    replay must re-derive the same deltas (inputs pinned below batch_id,
    not read at HEAD) and publish the tables the crash skipped — the
    streamed state still equals a from-scratch batch recompute."""
    f_a, f_b = _two_files(tmp_path)
    cat = Catalog(str(tmp_path / "cat"))
    page_stream._empty_state(spark, cat)
    page_stream.apply_page_batch(
        spark, cat, read_pages_json(spark, str(f_a)), batch_id=0
    )

    # batch 1's ``crashed`` commit dies BEFORE publishing while the other
    # three tables (committed concurrently) publish: the most dangerous
    # partial state — replay must pin its reads BELOW batch 1 even though
    # those tables' HEADs already sit AT batch 1
    real_commit = fail_commits({crashed}, epoch=1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        page_stream.apply_page_batch(
            spark, cat, read_pages_json(spark, str(f_b)), batch_id=1
        )
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)
    for t in page_stream.STREAM_TABLES:  # crash landed mid-way
        assert cat.table(t).epoch_of_head() == (0 if t == crashed else 1), t

    # replay of batch 1 (what the streaming checkpoint does on restart)
    page_stream.apply_page_batch(
        spark, cat, read_pages_json(spark, str(f_b)), batch_id=1
    )
    _assert_equals_batch(spark, cat, read_pages_json(spark, str(tmp_path / "*.json")))


def test_concurrent_commit_failures_all_reported(spark, tmp_path, fail_commits):
    """Two of the overlapped commits fail: the first error propagates with
    its own type, and the raised error names BOTH failed tables."""
    f_a, f_b = _two_files(tmp_path)
    cat = Catalog(str(tmp_path / "cat"))
    page_stream._empty_state(spark, cat)
    page_stream.apply_page_batch(
        spark, cat, read_pages_json(spark, str(f_a)), batch_id=0
    )
    fail_commits({"uri_counts", "index_rows"}, epoch=1)
    with pytest.raises(RuntimeError, match="simulated crash") as err:
        page_stream.apply_page_batch(
            spark, cat, read_pages_json(spark, str(f_b)), batch_id=1
        )
    report = "\n".join([str(err.value), *getattr(err.value, "__notes__", [])])
    assert "uri_counts" in report and "index_rows" in report


def test_empty_state_finishes_a_crashed_init(spark, tmp_path, monkeypatch, fail_commits):
    """A crash during the concurrent init commits leaves one table
    uninitialized; the next ``_empty_state`` probes every table, commits
    the missing one, and batch 0 then equals a batch build."""
    f_a, _ = _two_files(tmp_path)
    cat = Catalog(str(tmp_path / "cat"))
    real_commit = fail_commits({"domain_counts"}, epoch=-1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        page_stream._empty_state(spark, cat)
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)
    assert [t for t in page_stream.STREAM_TABLES if not cat.table(t).exists()] == [
        "domain_counts"
    ]

    page_stream._empty_state(spark, cat)
    page_stream.apply_page_batch(
        spark, cat, read_pages_json(spark, str(f_a)), batch_id=0
    )
    _assert_equals_batch(spark, cat, read_pages_json(spark, str(f_a)))


def test_replayed_batch_is_idempotent(spark, tmp_path):
    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    cat = Catalog(str(tmp_path / "cat"))
    page_stream._empty_state(spark, cat)
    pages = read_pages_json(spark, fixture)
    page_stream.apply_page_batch(spark, cat, pages, batch_id=0)
    before = _snap(cat.table("uri_counts").read(spark))
    heads = {t: cat.table(t).head() for t in page_stream.STREAM_TABLES}
    # crash-replay of the same micro-batch: every commit is skipped
    page_stream.apply_page_batch(spark, cat, pages, batch_id=0)
    assert {t: cat.table(t).head() for t in page_stream.STREAM_TABLES} == heads
    assert _snap(cat.table("uri_counts").read(spark)) == before


def test_chains_fold_and_a_lost_compaction_is_redone(spark, tmp_path, monkeypatch):
    """Every second micro-batch folds each table's merge chain, so no HEAD
    holds more than two merge segments.  A compaction that fails inside
    ``apply_page_batch`` raises only after the others have drained, names
    its table and leaves the batch done (a replay is a no-op); the next
    batch's commit compacts that table, and the streamed state still
    equals a batch recompute."""
    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    lines = [l for l in open(fixture, encoding="utf-8").read().splitlines() if l]
    files = []
    for b, chunk in enumerate((lines[:2], lines[2:3], lines[3:4], lines[4:])):
        files.append(tmp_path / f"p{b}.json")
        files[-1].write_text("\n".join(chunk) + "\n")
    cat = Catalog(str(tmp_path / "cat"))
    page_stream._empty_state(spark, cat)

    def heads():
        return {t: cat.table(t).head() for t in page_stream.STREAM_TABLES}

    def batch(b):
        page_stream.apply_page_batch(
            spark, cat, read_pages_json(spark, str(files[b])), batch_id=b
        )
        for t in page_stream.STREAM_TABLES:
            assert len(cat.table(t).manifest().get("merge_segments") or []) <= 2, (t, b)

    batch(0)
    failed = "index_rows"
    real_compact = SnapshotTable.compact

    def dying_compact(self, spark_):
        if self.name == failed:
            raise RuntimeError("simulated kill in compaction")
        return real_compact(self, spark_)

    monkeypatch.setattr(SnapshotTable, "compact", dying_compact)
    with pytest.raises(RuntimeError, match="simulated kill") as err:
        batch(1)
    monkeypatch.setattr(SnapshotTable, "compact", real_compact)
    assert any(failed in n for n in getattr(err.value, "__notes__", []))
    for t in page_stream.STREAM_TABLES:  # the others drained before the raise
        assert cat.table(t).manifest().get("compaction", False) is (t != failed), t
    assert cat.done(page_stream.STREAM_TABLES, 1)
    before = heads()
    batch(1)  # replay of a done batch
    assert heads() == before

    batch(2)
    man = cat.table(failed).manifest()
    assert man.get("compaction") is True and man["epoch"] == 2
    batch(3)
    for t in page_stream.STREAM_TABLES:
        assert any(m.get("compaction") for m in cat.table(t).history()), t
    _assert_equals_batch(spark, cat, read_pages_json(spark, str(tmp_path / "p*.json")))
