"""Per-layer numbers from a traced run's spans.

Two kinds of output:

* ``unit.*`` — the same names on every workload: the Spark cost of one
  timed unit (epoch, micro-batch, lane pass or request) including every
  span below it.  These are the ``per_layer`` metrics of BENCHMARK.json.
* layer names from the benchmark doc (``frontier.epoch_s``,
  ``snapshots.commit_s.<table>``, ...), plus ``<span>.<stat>`` for every
  span name, written to the trace file.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.trace import STAT_KEYS, Tracer, union_s


def _snapshots(tr: Tracer, snap, n_units: int) -> dict[str, float]:
    out = {}
    by_id = {s.id: s for s in tr.spans}
    # a compaction's own read and commit count under compact_s only
    top_level = [s for s in snap if by_id[s.parent].name != "snapshots.compact"]
    per_table = defaultdict(float)
    for s in top_level:
        if s.name == "snapshots.commit":
            per_table[s.attrs["table"]] += s.dur
    for t, v in per_table.items():
        out[f"snapshots.commit_s.{t}"] = v / n_units
    out["snapshots.compact_s"] = sum(
        s.dur for s in snap if s.name == "snapshots.compact") / n_units
    out["snapshots.bytes_written"] = sum(
        s.attrs.get("bytes_written", 0) for s in top_level
        if s.name in ("snapshots.commit", "snapshots.compact")) / n_units
    reads = [s for s in top_level if s.name == "snapshots.read"]
    out["snapshots.read_s"] = sum(s.dur for s in reads) / n_units
    out["snapshots.read_segments"] = max((s.attrs["segments"] for s in reads), default=0)
    return out


def summarize(tr: Tracer, sess, res) -> dict[str, float]:
    out: dict[str, float] = {
        "session.start_s": sess.start_s,
        "trace.self_s": tr.self_time_s,
    }
    units = [s for s in tr.spans if s.attrs.get("unit")]
    n_units = max(1, len(units))
    incl = [tr.inclusive(u) for u in units]
    for k in STAT_KEYS:
        out[f"unit.{k}"] = sum(i[k] for i in incl) / n_units
    out["unit.self_s"] = statistics.median(tr.self_s(u) for u in units)
    out["unit.cached_bytes_left"] = units[-1].attrs.get("cached_bytes_left", 0)

    by_name = defaultdict(list)
    for s in tr.spans:
        by_name[s.name].append(s)
    for name, spans in by_name.items():
        out[f"{name}.calls"] = len(spans)
        out[f"{name}.s"] = statistics.median(s.dur for s in spans)
        out[f"{name}.self_s"] = statistics.median(tr.self_s(s) for s in spans)
        for k in STAT_KEYS:
            out[f"{name}.{k}"] = sum(s.stats[k] for s in spans) / len(spans)

    # snapshot layer, per timed unit
    snap = [s for u in units for s in tr.descendants(u) if s.name.startswith("snapshots.")]
    if snap:
        out.update(_snapshots(tr, snap, n_units))

    names = set(by_name)
    if "frontier.run_epoch" in names:
        out["frontier.epoch_s"] = out["frontier.run_epoch.s"]
        out["frontier.epoch_self_s"] = out["frontier.run_epoch.self_s"]
        for k in STAT_KEYS:
            out[f"frontier.{k}"] = out[f"unit.{k}"]
        out["frontier.cached_bytes_left"] = out["unit.cached_bytes_left"]
    if "page_stream.apply_page_batch" in names:
        walls, sums = [], []
        for u in units:
            commits = [c for c in tr.descendants(u) if c.name == "snapshots.commit"]
            walls.append(union_s((c.start, c.end) for c in commits))
            sums.append(sum(c.dur for c in commits))
        out["page_stream.batch_s"] = out["page_stream.apply_page_batch.s"]
        out["page_stream.commit_wall_s"] = statistics.median(walls)
        out["page_stream.commit_sum_s"] = statistics.median(sums)
        for k in STAT_KEYS:
            out[f"page_stream.{k}"] = out[f"unit.{k}"]
        out["page_stream.cached_bytes_left"] = out["unit.cached_bytes_left"]
    if "sched_pipeline.schedule_frontier" in names:
        sched = by_name["sched_pipeline.schedule_frontier"]
        for regime, key in (("bcast", "schedule_s"), ("cogroup", "schedule_cogroup_s")):
            out[f"sched_pipeline.{key}"] = statistics.median(
                s.dur for s in sched if s.attrs["regime"] == regime)
    if "images.verify_images" in names:
        out["images.verify_s"] = out["images.verify_images.s"]
    return out
