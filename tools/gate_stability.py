"""Repeated-gate stability harness (r14 verdict #1).

The driver's correctness gate runs each row ONCE in its own vanilla
SparkSession; a row whose chain contains any run-order-sensitive step
(float summation feeding a round, a rounded value re-entering a
ranking) can pass locally four times and flip once at the gate — which
is exactly how `recsys_als_eval` went red in r14. This harness makes
that class of flake reproducible-or-excluded: run each row N times,
each under a FRESH VANILLA SparkSession (new applicationId, so every
trainer memo misses and the full chain re-executes), and assert the
driver-normalized value hash is identical across all N runs AND equal
to the DuckDB oracle's.

The default row set is the iterative/training family — every row where
a rounded or requantized intermediate RE-ENTERS downstream compute
(ALS sweeps, PCA deflation, Yule-Walker, LTR epochs, Holt/EWMA
recursions, permutation draws) — plus any row named on the CLI.
Output-only rounding of deterministic exact values (the rest of the
bank) cannot flip run-to-run by construction (integer/DECIMAL
accumulation conventions, CLAUDE.md), and the full bank is covered
once per round by tools/check.py.

Usage: python tools/gate_stability.py [sf_dir] [--n N] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check import TABLES, normalize  # noqa: E402

# Rows whose chains contain an iterative / re-entering rounding step.
DEFAULT_ROWS = [
    "recsys_als_factors",
    "recsys_als_eval",
    "embedding_pca_components",
    "embedding_pca_power",
    "events_ar2_forecast",
    "events_holt_forecast",
    "events_ewma",
    "ltr_train_weights",
    "ltr_rank_metrics",
    "ltr_ndcg_eval",
    "search_stemmed_ltr",
    "stats_permutation",
]


def _vanilla_session(i: int):
    """The driver's contract: a plain local session, no engine-side
    config beyond what __spark_entry__ itself is allowed to assume."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[32]")
        .appName(f"gate-stability-{i}")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )


def _hash(cols, rows) -> str:
    nc, nr = normalize(cols, rows)
    return hashlib.sha256(repr((nc, nr)).encode()).hexdigest()[:16]


def main() -> int:
    argv = list(sys.argv[1:])
    n = 20
    if "--n" in argv:
        i = argv.index("--n")
        n = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    if argv and "/" in argv[0]:
        argv = argv[1:]
    rows = argv or DEFAULT_ROWS

    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    unknown = [r for r in rows if r not in qs]
    if unknown:
        print(f"unknown rows: {unknown}")
        return 2

    con = duckdb.connect()
    con.execute("SET memory_limit='16GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle_hash: dict[str, str | None] = {}
    for name in rows:
        if name in oracles:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            oracle_hash[name] = _hash(cols, res.fetchall())
        else:
            oracle_hash[name] = None
    con.close()

    seen: dict[str, set[str]] = {name: set() for name in rows}
    bad: list[str] = []
    for it in range(n):
        t0 = time.time()
        spark = _vanilla_session(it)
        for name in rows:
            df = qs[name](spark, sf_dir)
            h = _hash(df.columns, [tuple(r) for r in df.collect()])
            seen[name].add(h)
            ok = oracle_hash[name] in (None, h)
            if len(seen[name]) > 1 or not ok:
                print(
                    f"UNSTABLE {name} iter {it}: hashes={sorted(seen[name])} "
                    f"oracle={oracle_hash[name]}"
                )
                if name not in bad:
                    bad.append(name)
        spark.stop()
        print(f"iter {it + 1}/{n} done [{time.time() - t0:.1f}s]")
    for name in rows:
        status = "UNSTABLE" if name in bad else "stable"
        orc = (
            "≡oracle"
            if oracle_hash[name] and oracle_hash[name] in seen[name]
            else ("rows-only" if oracle_hash[name] is None else "≠ORACLE")
        )
        print(f"{status:9s} {name}: {len(seen[name])} distinct hash(es), {orc}")
    print(f"\n{len(rows) - len(bad)}/{len(rows)} stable over {n} fresh sessions")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
