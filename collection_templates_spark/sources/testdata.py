"""Readers for the driver-generated synthetic tables (TESTDATA.md).

TPC-H-ish star schema + ``events`` stream table + ``documents`` /
``embeddings`` corpora. One parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Parquet is already the right format at 100 TB: columnar scan with column
pruning and min/max predicate pushdown for free. The scale-sensitive
choice here is to let the file source split by
``spark.sql.files.maxPartitionBytes`` — with ONE exception, learned in
round 14: parquet tasks read whole ROW GROUPS, and the driver writes
each table as a single file with a single row group, so every scan
stage (at every sf) ran as ONE task regardless of planned splits (a
74 MB documents file = one core doing the whole decode+explode while
31 idle; invisible in .explain, only task-time skew shows it). Real
multi-file corpora don't have this shape, so the fix is an INGEST
REBALANCE, not per-query repartitions: ``_maybe_relayout`` rewrites a
pathologically-laid-out table once per process into a scratch copy
with ``defaultParallelism`` files/row groups (content-fingerprinted —
the driver can regenerate /root/testdata mid-round — and PID-owned via
``operators/scratch``), and every later read of that table scans
parallel with per-row-group min/max stats. Tables already splittable,
or too small to matter, pass through untouched.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession

# Below this a single task is the right plan. 2k is deliberately low:
# per-ROW downstream cost varies by 100x across tables (a 5k-doc text
# table feeds seconds of explode/HOF work), so the floor only screens
# out tables where even the heaviest pipeline finishes in well under a
# task-overhead multiple (measured A/B: 4-way documents at sf0.1 took
# text_ngram_novelty 5.9 -> 2.7 s with the cheap rows unaffected).
_RELAYOUT_MIN_ROWS = 2_000
_RELAYOUT_CACHE: dict[tuple, str] = {}
_RELAYOUT_ROOT: str | None = None

# DataFrame-handle memo (round 15, guide §1 measurement): a warm
# ``spark.read.parquet`` costs ~100 ms of DRIVER-side work per call
# (datasource resolution + footer schema read + file-index build) even
# for a 5-row table — across a 255-query bench series that re-resolves
# 2-3 tables per query per run it was ~40% of the headline. A real
# deployment resolves tables once through a catalog/metastore; this
# memo is that catalog. It caches the UNRESOLVED scan plan only —
# every action still reads the parquet bytes (nothing is persisted or
# .cache()d) — and the key carries the source files' (name, size,
# mtime_ns) fingerprint plus the session's applicationId, so a
# driver-regenerated /root/testdata or a fresh session misses cleanly.
_DF_MEMO: dict[tuple, "DataFrame"] = {}


def fingerprint(path: str) -> tuple:
    """Content fingerprint of a parquet table: ``(name, size, mtime_ns)``
    per data file, so a rewritten table gets a new one."""
    return tuple(
        (os.path.basename(f), os.path.getsize(f), os.stat(f).st_mtime_ns)
        for f in _parquet_files(path)
    )


def _source_key(spark: SparkSession, path: str) -> tuple:
    return (spark.sparkContext.applicationId, path, fingerprint(path))


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            f
            for f in _glob.glob(os.path.join(path, "*.parquet"))
            if not os.path.basename(f).startswith("_")
        )
    return [path] if os.path.exists(path) else []


def _maybe_relayout(spark: SparkSession, path: str) -> str:
    """Return ``path`` or a process-scoped parallel-layout copy of it
    (see module docstring). Cheap on the warm path: two stats per
    file for the content fingerprint, then a dict hit."""
    files = _parquet_files(path)
    if not files:
        return path
    par = spark.sparkContext.defaultParallelism
    key = (path, fingerprint(path))
    hit = _RELAYOUT_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        import pyarrow.parquet as pq

        rgs = rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            rgs += md.num_row_groups
            rows += md.num_rows
    except Exception:
        return path
    # row count, not bytes, is the proxy for downstream work: a 0.6 MB
    # snappy documents file feeds seconds of explode/HOF work, all of
    # it serialized behind a single row group
    if rows < _RELAYOUT_MIN_ROWS or rgs >= max(4, par // 4):
        _RELAYOUT_CACHE[key] = path
        return path
    global _RELAYOUT_ROOT
    if _RELAYOUT_ROOT is None:
        from collection_templates_spark.operators.scratch import scratch_dir

        _RELAYOUT_ROOT = scratch_dir("spark_relayout_")
    dest = os.path.join(
        _RELAYOUT_ROOT,
        f"{len(_RELAYOUT_CACHE)}_{os.path.basename(path)}",
    )
    # file count scales with rows: a fixed 32-way fan-out taxes every
    # small-table scan with task-scheduling overhead (~+0.1-0.3 s x
    # hundreds of cheap queries), while ~4k rows/task keeps the heavy
    # explode/HOF pipelines parallel where it matters
    n_out = min(par, max(4, rows // 4_000))
    spark.read.parquet(path).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(dest)
    _RELAYOUT_CACHE[key] = dest
    return dest

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo_key = _source_key(spark, path)
    hit = _DF_MEMO.get(memo_key)
    if hit is not None:
        return hit
    df = _load_table_uncached(spark, name, path)
    _DF_MEMO[memo_key] = df
    return df


def _load_table_uncached(spark: SparkSession, name: str, path: str) -> DataFrame:
    if name == "events":
        # Historically events.parquet stored ts as parquet TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects; current generations store
        # TIMESTAMP(MICROS), which arrives as TIMESTAMP_NTZ. Adapt to
        # whatever the file actually contains, normalizing to TimestampType
        # (the contract every downstream query — unix_micros, window ranges —
        # was validated against): nanos arrive as LongType (via nanosAsLong)
        # and get truncated to micros (matching DuckDB's ns→us cast); NTZ is
        # cast to TIMESTAMP (identity under the UTC session tz the driver
        # runs with). Stays fully JVM-side either way.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(_maybe_relayout(spark, path))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return spark.read.parquet(_maybe_relayout(spark, path))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` works on them."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
