"""S5 — the distributed fetch/copy stage (Copy.java:46-103,
LoadS3.java:71-99): partition a paths list over executors, each task
streams its files from the source store to the destination store,
skipping files that already exist (the reference filters pre-existing
HDFS files and logs-and-continues on per-file failures).

Spark-first restatement: the paths list becomes a single-column
DataFrame repartitioned to the requested copy parallelism;
``mapInPandas`` runs the per-partition copy loop (file IO is the
legitimate Python seam — this is per-FILE work, never per-row) and
returns a MANIFEST DataFrame ``(src, dest, status, bytes, sha256)``
instead of the reference's log lines, so resume/verify decisions are
queryable data rather than grep targets.

Semantics beyond the reference, kept deliberately small:

* **idempotent resume** — an existing destination of the same size is
  ``skipped`` (the reference's exists-check); an existing destination
  of a DIFFERENT size is recopied (``fixed``) because a half-written
  file from a killed run must not survive (IndexIT.java:107-135 resume
  discipline).  Copies go through a temp file + atomic rename so a
  kill mid-copy never leaves a destination-named partial.
* **integrity** — each copied file's sha256 + byte count lands in the
  manifest; ``verify_copy`` recomputes hashes pairwise and returns the
  mismatches (expected: none).
* **failure isolation** — an unreadable source yields a ``failed``
  manifest row; other files in the partition keep copying (the
  reference's try/catch-per-file).

The source/destination here are local filesystem paths, opened with
``open``: the S3/HTTP client of the reference is not reproduced.  The
distributed machinery (partitioning, resume, atomicity, manifest) is the
operator; reading S3 would mean replacing the per-file ``open`` calls
of the copy task, the plan stays the same.

100 TB posture: one task per ~file-group, zero shuffles, no driver
data; the manifest (one row per file) is the only thing collected, and
only if the caller asks.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

MANIFEST_SCHEMA = "src string, dest string, status string, bytes long, sha256 string"

_CHUNK = 1 << 20


def _sha256_file(path: str) -> tuple[str, int]:
    h = hashlib.sha256()
    n = 0
    with open(path, "rb") as f:
        while chunk := f.read(_CHUNK):
            h.update(chunk)
            n += len(chunk)
    return h.hexdigest(), n


def _copy_one(src: str, dest: str) -> tuple[str, int, str]:
    """Copy ``src`` -> ``dest`` through a same-directory temp file +
    atomic rename; returns (sha256, bytes, status)."""
    if os.path.exists(dest):
        if os.path.getsize(dest) == os.path.getsize(src):
            # hash BOTH sides on the skip path: recording the dest hash
            # alone would self-certify (verify_copy re-hashes dest and
            # compares against… the dest hash), so a same-size but
            # different-content destination could never be flagged.
            # The manifest row carries the SOURCE hash; an equal-size
            # content mismatch is recopied as 'fixed' like a torn write.
            sha_src, n = _sha256_file(src)
            sha_dest, _ = _sha256_file(dest)
            if sha_src == sha_dest:
                return sha_src, n, "skipped"
            status = "fixed"  # same size, different bytes
        else:
            status = "fixed"  # size mismatch: a torn write from a killed run
    else:
        status = "copied"
    tmp = f"{dest}.tmp-{uuid.uuid4().hex[:8]}"
    h = hashlib.sha256()
    n = 0
    try:
        with open(src, "rb") as fin, open(tmp, "wb") as fout:
            while chunk := fin.read(_CHUNK):
                h.update(chunk)
                n += len(chunk)
                fout.write(chunk)
        os.replace(tmp, dest)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return h.hexdigest(), n, status


def distributed_copy(
    spark: SparkSession,
    paths: list[str] | DataFrame,
    dest_dir: str,
    parallelism: int | None = None,
) -> DataFrame:
    """Copy every source file into ``dest_dir`` as a distributed job;
    returns the manifest DataFrame (one row per source file).

    ``paths`` is a list of source paths or a single-column DataFrame of
    them (e.g. ``sources.paths.paths_range`` output — the reference
    feeds Copy.java from the same range selection)."""
    os.makedirs(dest_dir, exist_ok=True)
    if isinstance(paths, DataFrame):
        pdf = paths.toDF("src")
    else:
        pdf = spark.createDataFrame([(p,) for p in paths], "src string")
    # destinations are dest_dir/basename(src): two sources sharing a
    # basename would race on one destination across concurrent tasks
    # (last writer wins, both manifest rows claiming success) — fail
    # fast BEFORE launching the job.  One tiny aggregate over the paths
    # list (driver-side planning cost, not per-file work).
    import pyspark.sql.functions as F

    dup = (
        pdf.groupBy(
            F.element_at(F.split(F.col("src"), "/"), -1).alias("__base")
        )
        .count()
        .where(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        names = ", ".join(r["__base"] for r in dup)
        raise ValueError(
            f"distributed_copy: duplicate source basenames would collide "
            f"under {dest_dir!r}: {names} — copy from unambiguous paths "
            "or stage colliding prefixes into separate dest dirs"
        )
    n_parts = parallelism or spark.sparkContext.defaultParallelism

    def copy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for src in batch["src"]:
                dest = os.path.join(dest_dir, os.path.basename(src))
                try:
                    sha, n, status = _copy_one(src, dest)
                    rows.append((src, dest, status, n, sha))
                except OSError as e:
                    rows.append((src, dest, f"failed: {e.__class__.__name__}", 0, ""))
            yield pd.DataFrame(
                rows, columns=["src", "dest", "status", "bytes", "sha256"]
            )

    return pdf.repartition(n_parts).mapInPandas(
        copy_batches, schema=MANIFEST_SCHEMA
    )


def verify_copy(spark: SparkSession, manifest: DataFrame) -> DataFrame:
    """Re-hash every destination file in the manifest (distributed) and
    return rows whose on-disk sha256 no longer matches — the post-copy
    integrity sweep.  Empty result == every byte survived."""

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            bad = []
            for _, r in batch.iterrows():
                if r["status"].startswith("failed"):
                    continue
                try:
                    sha, n = _sha256_file(r["dest"])
                except OSError:
                    sha, n = "", -1
                if sha != r["sha256"] or n != r["bytes"]:
                    bad.append((r["src"], r["dest"], "mismatch", n, sha))
            yield pd.DataFrame(
                bad, columns=["src", "dest", "status", "bytes", "sha256"]
            )

    return manifest.mapInPandas(check, schema=MANIFEST_SCHEMA)


__all__ = ["distributed_copy", "verify_copy", "MANIFEST_SCHEMA"]
