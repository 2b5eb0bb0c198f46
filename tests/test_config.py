"""WebIndexConfig YAML loading — the ported WebIndexConfigTest
(WebIndexConfigTest.java:22-28) plus the default/unknown-key semantics
of the reference loader and the engine-knob mapping."""

from __future__ import annotations

import os

import pytest

from webindex_spark.config import WebIndexConfig
from webindex_spark.operators import cuckoo

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_basic_example_load():
    """The reference test verbatim: load the packaged example and check
    the three fields WebIndexConfigTest asserts."""
    cfg = WebIndexConfig.load(os.path.join(REPO, "conf", "examples", "webindex.yml"))
    assert cfg.accumuloIndexTable == "webindex_search"
    assert cfg.fluoApp == "webindex"
    assert cfg.hdfsTempDir == "/cc/temp"


def test_missing_keys_keep_defaults(tmp_path):
    p = tmp_path / "mini.yml"
    p.write_text("fluoApp: myapp\n")
    cfg = WebIndexConfig.load(str(p))
    assert cfg.fluoApp == "myapp"
    assert cfg.numTablets == -1 and cfg.numBuckets == -1  # Java field defaults
    assert cfg.loadRateLimit == 0
    assert cfg.budget == 5 and cfg.filterKind == "bloom"


def test_unknown_key_rejected(tmp_path):
    p = tmp_path / "bad.yml"
    p.write_text("fluoApp: x\nnotAKey: 1\n")
    with pytest.raises(ValueError, match="notAKey"):
        WebIndexConfig.load(str(p))


def test_missing_file_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        WebIndexConfig.load(str(tmp_path / "nope.yml"))


def test_load_default_prefers_user_config(tmp_path):
    """The two-path resolution: user conf/webindex.yml wins over
    conf/examples/webindex.yml (WebIndexConfig.java:75-86)."""
    (tmp_path / "conf" / "examples").mkdir(parents=True)
    (tmp_path / "conf" / "examples" / "webindex.yml").write_text("fluoApp: example\n")
    cfg = WebIndexConfig.load_default(str(tmp_path))
    assert cfg.fluoApp == "example"
    (tmp_path / "conf" / "webindex.yml").write_text("fluoApp: user\nbudget: 9\n")
    cfg = WebIndexConfig.load_default(str(tmp_path))
    assert cfg.fluoApp == "user" and cfg.budget == 9


def test_from_env_and_crawl_config(tmp_path, monkeypatch):
    p = tmp_path / "engine.yml"
    p.write_text(
        "budget: 7\nfilterKind: cuckoo\nbloomExpectedN: 4096\n"
        "bloomPartitions: 4\n"
    )
    monkeypatch.setenv("WEBINDEX_SPARK_CONFIG", str(p))
    cfg = WebIndexConfig.from_env()
    cc = cfg.to_crawl_config()
    assert cc.budget == 7 and cc.filter_kind == "cuckoo"
    assert type(cc.bloom) is cuckoo.CuckooParams
    assert cc.bloom == cuckoo.cuckoo_params(4096, 4)
    # compaction is no knob: the commit folds every two-segment chain
    (tmp_path / "old.yml").write_text("budget: 7\ncompactEvery: 3\n")
    monkeypatch.setenv("WEBINDEX_SPARK_CONFIG", str(tmp_path / "old.yml"))
    with pytest.raises(ValueError, match="compactEvery"):
        WebIndexConfig.from_env()
    monkeypatch.delenv("WEBINDEX_SPARK_CONFIG")
    monkeypatch.delenv("WI_HOME", raising=False)
    assert WebIndexConfig.from_env() is None
