"""Benchmark of the collections ETL and the query bank.

    python3 perfbench/run.py --workload {etl_daily,bank} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first call in a checkout also builds
the ETL's day-1 state, once (see ``etl.py``). Each call is one closed-loop
client in a fresh process on ``local[4]``: it generates its inputs from
``--seed`` (outside the measurement), sets up a Spark session three times
and reports the median (``setup_s``), runs the workload's first pass
(``cold_s``), then checks the outputs. ``--seconds`` is the least
measuring window; the bank fills it with warm passes. ``--trace 1``
repeats the run with spans around every call into the program's layers and
reports per-layer numbers instead of end-to-end ones; tracing overhead is
that run's ``trace.cold_s`` minus the untraced ``cold_s``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). Earlier lines carry the
run stamp and one line per failed unit, with its exception class or check.
The full record (spans, per-row times, set-up rounds) goes to
``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

WORKLOADS = ("etl_daily", "bank")
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "persisted_mb": "MB",
}
LAYERS = (
    "sources.ntriples", "operators.entities", "operators.collections_extract",
    "operators.validation", "functions.langmodel", "operators.enrich",
    "operators.merge", "operators.factory", "operators.snapshot_diff",
    "plans.pipeline.persist", "sources.testdata", "bank.graph", "bank.scan",
    "bank.memo",
)
LAYER_UNITS = {
    "build_s": "s", "exec_s": "s", "jobs": "count", "build_jobs": "count",
    "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB", "failed_tasks": "count",
}
PER_LAYER = {
    **{f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_UNITS.items()},
    "operators.enrich.score_cache_hit_ratio": "ratio",
    "operators.enrich.score_cache_keys": "count",
    "memo.cold_entries_added": "count",
    "memo.entries_added": "count",
    "memo.hit_ratio": "ratio",
    "memo.calls": "count",
    "sources.testdata.memo_hit_ratio": "ratio",
    "sources.testdata.calls": "count",
    "sources.testdata.relayout_writes": "count",
    "trace.cold_s": "s",
    "trace.warm_s": "s",
    "trace.attributed_frac": "ratio",
    "failed_frac": "ratio",
    # the JVM's peak RSS moves 10-20% between runs of the same code with
    # its heap growth, as much as the largest bound an end-to-end metric
    # may have, so it is reported without one
    "process.peak_rss_mb": "MB",
}


def stamp(spark) -> dict:
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(env.ROOT, "collection_templates_spark")
    for root, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    src.update(f.encode() + fh.read())
    commit = None
    if os.path.isdir(os.path.join(env.ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=env.ROOT, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version") if spark else None,
        "commit": commit,
        "source_sha256": src.hexdigest(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="collections ETL and query-bank benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    env.prepare()
    if not env.package_available():
        print("collection_templates_spark is not importable from the checkout root",
              file=sys.stderr)
        return 2
    # runs share the work directories of the checkout: one at a time
    lock = open(os.path.join(env.WORK_DIR, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    shutil.rmtree(env.TMP_DIR, ignore_errors=True)
    os.makedirs(env.TMP_DIR)

    import etl
    import harness

    # the checkout's one-time build, done by whichever workload runs first
    build_s = etl.ensure_base()
    if args.workload == "etl_daily":
        workload = etl
    else:
        import bank as workload
    try:
        result = workload.run(args.seed, args.seconds, bool(args.trace))
        from pyspark.sql import SparkSession

        result["stamp"] = stamp(SparkSession.getActiveSession())
    finally:
        harness.shutdown()

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "build_s": build_s, **result}
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(env.OUT_DIR, name), "w") as f:
        json.dump(record, f, default=str)

    print(json.dumps({"stamp": result["stamp"], "gen_s": result["gen_s"], "build_s": build_s}))
    for fail in result["failures"]:
        print(json.dumps({"failed": fail}, default=str))
    n_failed = len({f["unit"] for f in result["failures"]})
    if args.trace:
        values, units = result["per_layer"], PER_LAYER
        values["failed_frac"] = n_failed / result["units"]
        values["process.peak_rss_mb"] = result["metrics"]["peak_rss_mb"]
    else:
        values, units = result["metrics"], END_TO_END
    metrics = {
        k: {"value": float(values.get(k) or 0.0), "unit": u} for k, u in units.items()
    }
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": result["units"],
        "failed": n_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
