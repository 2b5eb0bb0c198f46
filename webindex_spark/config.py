"""YAML configuration with the reference's load semantics.

Reference parity (WebIndexConfig.java:26-121, tested at
WebIndexConfigTest.java:22-28): a flat YAML file populates a typed config
object; keys absent from the file keep their field defaults
(numTablets/numBuckets -1, loadRateLimit 0); unknown keys are an error
(yamlbeans rejects properties the class doesn't declare); ``load()``
resolves the user config at ``$WI_HOME/conf/webindex.yml`` and falls back
to ``conf/examples/webindex.yml``.

On top of the reference's own fields this carries the engine's crawl
knobs under the same flat-key style, so one file configures both the
reference-compatible surface and the Spark engine
(``to_crawl_config()`` -> operators/frontier.CrawlConfig).  bench.py and
``__spark_entry__`` consult ``from_env()`` — point
``WEBINDEX_SPARK_CONFIG`` at a yml to reconfigure the crawl probes
without touching code.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields

import yaml


@dataclass
class WebIndexConfig:
    # --- reference fields (WebIndexConfig.java:33-40), same defaults ---
    accumuloIndexTable: str | None = None
    fluoApp: str | None = None
    fluoHome: str | None = None
    hadoopConfDir: str | None = None
    numTablets: int = -1
    numBuckets: int = -1
    hdfsTempDir: str | None = None
    loadRateLimit: int = 0
    # --- engine crawl knobs (operators/frontier.CrawlConfig) ---------
    budget: int = 5
    priorityDecay: float = 0.5
    nSalts: int = 8
    filterKind: str = "bloom"
    bloomExpectedN: int = 100_000
    bloomFpp: float = 0.01
    bloomPartitions: int = 16
    metricPartitions: int = 16

    @classmethod
    def load(cls, config_path: str) -> "WebIndexConfig":
        """Populate from a flat YAML file; missing keys keep field
        defaults, unknown keys raise (yamlbeans' strict-property
        behavior, WebIndexConfig.java:103-110)."""
        if not os.path.exists(config_path):
            raise FileNotFoundError(f"Config does not exist at {config_path}")
        with open(config_path, encoding="utf-8") as f:
            data = yaml.safe_load(f) or {}
        if not isinstance(data, dict):
            raise ValueError(f"{config_path}: expected a flat key/value mapping")
        known = {f.name: f.type for f in fields(cls)}
        unknown = sorted(set(data) - set(known))
        if unknown:
            raise ValueError(f"{config_path}: unknown config keys {unknown}")
        return cls(**data)

    @classmethod
    def load_default(cls, home: str) -> "WebIndexConfig":
        """The reference's two-path resolution (WebIndexConfig.java:75-86):
        ``<home>/conf/webindex.yml`` if present, else the packaged example
        at ``<home>/conf/examples/webindex.yml``."""
        user_path = os.path.join(home, "conf", "webindex.yml")
        if os.path.exists(user_path):
            return cls.load(user_path)
        return cls.load(os.path.join(home, "conf", "examples", "webindex.yml"))

    @classmethod
    def from_env(cls) -> "WebIndexConfig | None":
        """Engine entrypoint hook: ``WEBINDEX_SPARK_CONFIG`` names a yml
        (highest precedence), else ``WI_HOME`` resolves like the
        reference's load(); neither set -> None (code defaults)."""
        explicit = os.environ.get("WEBINDEX_SPARK_CONFIG")
        if explicit:
            return cls.load(explicit)
        home = os.environ.get("WI_HOME")
        if home:
            return cls.load_default(home)
        return None

    def to_crawl_config(self):
        """The engine-facing view: frontier.CrawlConfig built from the
        crawl-knob fields (reference fields ride along untouched for the
        index/export surface)."""
        from webindex_spark.operators.frontier import CrawlConfig

        return CrawlConfig(
            budget=self.budget,
            priority_decay=self.priorityDecay,
            n_salts=self.nSalts,
            filter_kind=self.filterKind,
            bloom_expected_n=self.bloomExpectedN,
            bloom_fpp=self.bloomFpp,
            bloom_partitions=self.bloomPartitions,
            metric_partitions=self.metricPartitions,
        )
