"""Benchmark runner: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Prints a report line
per metric, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run also writes every span and layer number to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")

END_TO_END_UNITS = {"setup_s": "s", "unit_p50_s": "s"}
PER_LAYER_UNITS = {
    "unit.jobs": "count", "unit.stages": "count", "unit.tasks": "count",
    "unit.executor_run_s": "s", "unit.self_s": "s",
    "unit.shuffle_read_bytes": "bytes", "unit.shuffle_write_bytes": "bytes",
    "unit.cached_bytes_left": "bytes", "session.start_s": "s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "webindex_spark", "__init__.py")):
        print(f"perfbench: no webindex_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    ctx = workloads.make_ctx(args.seed, args.seconds, bool(args.trace), OUT_DIR)
    # keep every temporary file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = ctx.work_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work_dir, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={ctx.work_dir} -XX:-UsePerfData")
    try:
        res = workloads.run(args.workload, ctx)
    finally:
        shutil.rmtree(ctx.work_dir, ignore_errors=True)

    e2e = {"setup_s": res.setup_s, "unit_p50_s": statistics.median(res.units)}
    # printed, not gated: a crawl or frontier_scale run has one unit, so its
    # throughput is a per-seed constant over unit_p50_s, and it has too few
    # units for a percentile with ten samples beyond it
    res.report["throughput_per_s"] = (
        res.items / (res.timed_s or sum(res.units)), "1/s")
    tail_s, tail_label = workloads.tail(res.units)
    res.report["unit_tail_s"] = (tail_s, "s")
    res.report["error_frac"] = (res.failed / res.attempted, "1")
    for name, (value, unit) in {
        **{k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()},
        **res.report,
    }.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} unit_tail_s is {tail_label} of {len(res.units)} units")
    for name, ok in res.checks.items():
        print(f"{args.workload} check {name}: {'ok' if ok else 'FAILED'}")

    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "end_to_end": e2e, "report": res.report,
                       "layers": res.layers, "spans": res.spans}, f, indent=1)
        print(f"{args.workload} trace written to {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": res.layers[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": res.failed == 0 and all(res.checks.values()),
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
