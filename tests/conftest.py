from __future__ import annotations

import pytest

from webindex_spark.session import get_spark
from webindex_spark.sources.snapshots import SnapshotTable


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="webindex-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture
def fail_commits(monkeypatch):
    """``fail_commits(tables, epoch)`` makes the commits of ``tables`` at
    ``epoch`` die before publishing, and returns the real commit."""

    def arm(tables, epoch):
        real_commit = SnapshotTable.commit

        def crashing(self, df, **kw):
            if self.name in tables and kw.get("epoch") == epoch:
                raise RuntimeError(f"simulated crash in the {self.name} commit")
            return real_commit(self, df, **kw)

        monkeypatch.setattr(SnapshotTable, "commit", crashing)
        return real_commit

    return arm
