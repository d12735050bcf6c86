"""Fingerprint one day of the collections ETL, to check that a refactor of
the pipeline keeps the same output.

Generates the ``etl_daily`` benchmark corpus (``perfbench/corpus.py``, day 1,
``perfbench/etl.py``'s member count) once under ``--scratch``, runs day 1 the
way the benchmark does (``etl._day``: ``run_pipeline(workdir=…)`` plus the
upsert operations) in this (fresh) process, and prints one JSON line:

    {"jobs": <Spark jobs of the run>,
     "boundaries": {<name>: {"rows": …, "rows_sha256": …, "schema_sha256": …}}}

for every persisted boundary (``*.parquet`` in the workdir, the score cache
and ``operations`` included). ``rows_sha256`` hashes the sorted JSON form of
every row, so it does not depend on partitioning or row order.

Usage: python tools/etl_hashes.py [--scratch DIR]

Run it from two checkouts with the same ``--scratch`` and compare the
``boundaries`` objects; each checkout gets its own workdir there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import corpus  # noqa: E402  (perfbench/corpus.py)
import etl  # noqa: E402  (perfbench/etl.py)


def _fingerprint(df) -> dict:
    from pyspark.sql import functions as F

    rows = sorted(
        r[0] for r in df.select(F.to_json(F.struct("*"))).collect()
    )
    digest = hashlib.sha256()
    for r in rows:
        digest.update(r.encode())
        digest.update(b"\n")
    return {
        "rows": len(rows),
        "rows_sha256": digest.hexdigest(),
        "schema_sha256": hashlib.sha256(df.schema.json().encode()).hexdigest(),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--scratch", default=os.path.join(tempfile.gettempdir(), "etl_hashes")
    )
    args = ap.parse_args()

    os.makedirs(args.scratch, exist_ok=True)
    # written once; later runs, from any checkout, reuse it
    data = os.path.join(args.scratch, f"corpus-m{etl.MEMBERS}")
    if not os.path.exists(data):
        etl._atomic_dir(data, lambda tmp: corpus.write_base(etl.MEMBERS, tmp))
    work = os.path.join(
        args.scratch, "work-" + hashlib.sha256(ROOT.encode()).hexdigest()[:12]
    )
    shutil.rmtree(work, ignore_errors=True)

    # Spark's Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    from collection_templates_spark.session import get_spark

    spark = get_spark(
        "etl_hashes", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("etl_hashes", "day 1")
        etl._day(spark, etl._inputs(spark, data, data, "day1"), work)
        jobs = len(sc.statusTracker().getJobIdsForGroup("etl_hashes"))

        boundaries = {
            name.removesuffix(".parquet"): _fingerprint(
                spark.read.parquet(os.path.join(work, name))
            )
            for name in sorted(os.listdir(work))
            if name.endswith(".parquet")
        }
    finally:
        spark.stop()
    print(json.dumps({"jobs": jobs, "boundaries": boundaries}, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
