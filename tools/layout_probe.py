"""Measured Z-order pruning win (r9 verdict #5): write the same table
three ways — z-ordered on two dimensions, range-sorted on one, unsorted —
then statically evaluate a 2-predicate scan against every parquet
row-group footer (min/max stats), exactly the skip decision a
stats-respecting reader makes. Reports files/rows a reader MUST read per
layout plus the measured Spark scan wall-time as a secondary signal.

This is Delta's OPTIMIZE ZORDER claim reproduced locally with honest
numbers: single-column sort prunes perfectly on its own column and not
at all on the other; the Morton interleave bounds BOTH dimensions per
file at a modest cost to each.

Usage: python tools/layout_probe.py [sf_dir] (default $SPARK_GRAFT_SF_DIR
or /root/testdata/sf0.1). Prints one JSON line per layout.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = 32
BITS = 8


def rowgroup_stats(path: str, cols: tuple[str, str]):
    """Yield (n_rows, {col: (min, max)}) per row group under path."""
    import pyarrow.parquet as pq

    for fname in sorted(os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fname)).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        idx = {c: names.index(c) for c in cols}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            stats = {}
            for c in cols:
                s = g.column(idx[c]).statistics
                stats[c] = (s.min, s.max)
            yield fname, g.num_rows, stats


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    from pyspark.sql import functions as F

    from collection_templates_spark.operators.layout import zorder_value
    from collection_templates_spark.session import get_spark
    from collection_templates_spark.sources.testdata import load_table

    spark = get_spark("layout_probe")
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice",
    )
    mx = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).collect()[0]
    # monotone width-buckets into [0, 2^BITS): range predicates on the RAW
    # columns still prune because bucket order preserves value order
    xbin = F.least(
        F.lit(2**BITS - 1),
        F.floor(F.col("l_partkey") * (2**BITS) / F.lit(mx.p + 1)),
    )
    ybin = F.least(
        F.lit(2**BITS - 1),
        F.floor(F.col("l_suppkey") * (2**BITS) / F.lit(mx.s + 1)),
    )
    base = "/tmp/layout_probe"
    shutil.rmtree(base, ignore_errors=True)
    layouts = {
        "zorder": li.repartitionByRange(
            N_FILES, zorder_value(xbin, ybin, bits=BITS).alias("__z")
        ),
        "single_sort": li.repartitionByRange(N_FILES, F.col("l_partkey")),
        "unsorted": li.repartition(N_FILES),
    }
    # ~10% selectivity per dimension; the workload is the point: a
    # single-column sort is unbeatable on ITS column and useless on the
    # other — z-order pays a small tax on each to bound BOTH.
    p_lo, p_hi = int(mx.p * 0.45), int(mx.p * 0.55)
    s_lo, s_hi = int(mx.s * 0.45), int(mx.s * 0.55)
    queries = {
        "part_range": ((p_lo, p_hi), None),
        "supp_range": (None, (s_lo, s_hi)),
        "both_dims": ((p_lo, p_hi), (s_lo, s_hi)),
    }
    for name, df in layouts.items():
        path = f"{base}/{name}"
        df.write.mode("overwrite").parquet(path)
        groups = list(
            rowgroup_stats(path, ("l_partkey", "l_suppkey"))
        )
        for qname, (pr, sr) in queries.items():
            files_total, files_read = set(), set()
            rows_total = rows_read = 0
            for fname, n_rows, st in groups:
                files_total.add(fname)
                rows_total += n_rows
                must_read = True
                if pr is not None:
                    pmin, pmax = st["l_partkey"]
                    must_read &= pmax >= pr[0] and pmin <= pr[1]
                if sr is not None:
                    smin, smax = st["l_suppkey"]
                    must_read &= smax >= sr[0] and smin <= sr[1]
                if must_read:
                    files_read.add(fname)
                    rows_read += n_rows
            pred = F.lit(True)
            if pr is not None:
                pred = pred & F.col("l_partkey").between(*pr)
            if sr is not None:
                pred = pred & F.col("l_suppkey").between(*sr)
            scan = spark.read.parquet(path).filter(pred)
            t0 = time.time()
            n_match = scan.count()
            wall = time.time() - t0
            print(json.dumps({
                "layout": name,
                "query": qname,
                "files_read": len(files_read),
                "files_total": len(files_total),
                "rows_must_scan": rows_read,
                "rows_total": rows_total,
                "scan_frac": round(rows_read / max(rows_total, 1), 4),
                "rows_matching": n_match,
                "spark_scan_sec": round(wall, 3),
            }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
