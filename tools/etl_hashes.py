"""Fingerprint two days of the collections ETL, to check that a refactor of
the pipeline keeps the same output.

Generates the ``etl_daily`` benchmark corpus (``perfbench/corpus.py``, day 1,
``perfbench/etl.py``'s member count) and the day-2 member edges of one fixed
seed once under ``--scratch``. In this (fresh) process it then runs day 1
the way the benchmark builds its day-1 state, and day 2 the way the
benchmark measures it: ``etl._day`` (``run_pipeline(workdir=…)`` plus the
upsert operations) in a fresh workdir that holds a copy of day 1's score
cache, against day 1's ``merged_final`` as the previous snapshot. Day 2 is
where the score cache is appended to. Prints one JSON line:

    {"jobs": <Spark jobs of day 1>,
     "boundaries": {<name>: {"rows": …, "rows_sha256": …, "schema_sha256": …}},
     "day2": {"jobs": …, "boundaries": {…}}}

for every persisted boundary of each day (``*.parquet`` in the workdir, the
score cache and ``operations`` included). ``rows_sha256`` hashes the sorted
JSON form of every row, so it does not depend on partitioning, file layout
or row order.

Usage: python tools/etl_hashes.py [--scratch DIR]

Run it from two checkouts with the same ``--scratch`` and compare the
``boundaries`` objects of both days; each checkout gets its own workdirs
there.
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

# the day-2 edges: the seed of the first traced ``etl_daily`` run
DAY2_SEED = 1


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


def _boundaries(spark, work: str) -> dict:
    return {
        name.removesuffix(".parquet"): _fingerprint(
            spark.read.parquet(os.path.join(work, name))
        )
        for name in sorted(os.listdir(work))
        if name.endswith(".parquet")
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--scratch", default=os.path.join(tempfile.gettempdir(), "etl_hashes")
    )
    args = ap.parse_args()

    os.makedirs(args.scratch, exist_ok=True)
    # written once; later runs, from any checkout, reuse them
    data = os.path.join(args.scratch, f"corpus-m{etl.MEMBERS}")
    if not os.path.exists(data):
        etl._atomic_dir(data, lambda tmp: corpus.write_base(etl.MEMBERS, tmp))
    edges2 = os.path.join(args.scratch, f"day2-s{DAY2_SEED}-m{etl.MEMBERS}")
    if not os.path.exists(edges2):
        etl._atomic_dir(
            edges2, lambda tmp: corpus.write_day2(DAY2_SEED, etl.MEMBERS, tmp)
        )
    work = os.path.join(
        args.scratch, "work-" + hashlib.sha256(ROOT.encode()).hexdigest()[:12]
    )
    shutil.rmtree(work, ignore_errors=True)
    work1, work2 = os.path.join(work, "day1"), os.path.join(work, "day2")

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

        def day(group: str, inputs, workdir: str) -> int:
            sc.setJobGroup(group, group)
            etl._day(spark, inputs, workdir)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        jobs1 = day(
            "etl_hashes day 1", etl._inputs(spark, data, data, "day1"), work1
        )
        # day 2 starts from day 1's score cache, as etl.run does
        shutil.copytree(
            f"{work1}/score_cache.parquet", f"{work2}/score_cache.parquet"
        )
        previous = spark.read.parquet(f"{work1}/merged_final.parquet")
        jobs2 = day(
            "etl_hashes day 2",
            etl._inputs(spark, data, edges2, "day2", previous),
            work2,
        )
        out = {
            "jobs": jobs1,
            "boundaries": _boundaries(spark, work1),
            "day2": {"jobs": jobs2, "boundaries": _boundaries(spark, work2)},
        }
    finally:
        spark.stop()
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
