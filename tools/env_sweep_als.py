"""Environment-axis sweep for the externally-red ``recsys_als_eval``
row (r15 verdict #1).

The row is bit-stable over 20 fresh LOCAL sessions (STABILITY_r15.txt)
yet hash-red at the driver's gate two rounds running — so the
divergence, if it is on the Spark side at all, must live on an
environment axis the local harness never varied. This tool varies
them: each config runs in a FRESH subprocess (new JVM — driver memory
and master cannot change inside one), builds the session exactly as
specified (including a TRUE-vanilla ``SparkSession.builder.getOrCreate()``
with no config at all, the driver's gate contract), runs the row at
sf0.01 cold (new applicationId ⇒ trainer memo misses), and prints the
RAW row plus the check.py-normalized hash.

The parent compares every config's hash against the DuckDB oracle and
writes the exact integers (n_users / n_hit_users / hits_at_k) beside
the two rounded doubles to an artifact, so any future external red can
be diffed against concrete values instead of guessed at. The installed
DuckDB version is pinned in the artifact (the oracle's HUGEINT ladder
is the most version-sensitive construct in the bank — no second
version is installable offline, so the probe records rather than
sweeps that axis).

Usage: python tools/env_sweep_als.py [sf_dir] [query]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# (label, master, shuffle_partitions|None, driver_mem|None)
# None means "leave at Spark's default" — the vanilla row is the
# driver-gate contract; the rest bracket it on each axis.
CONFIGS = [
    ("vanilla_local*", None, None, None),
    ("local2_sp200", "local[2]", "200", None),
    ("local8_sp200", "local[8]", "200", None),
    ("local32_sp200", "local[32]", "200", None),
    ("local32_sp1", "local[32]", "1", None),
    ("local32_sp8", "local[32]", "8", None),
    ("local32_sp32", "local[32]", "32", None),
    ("local32_sp200_mem1g", "local[32]", "200", "1g"),
    ("local8_sp8_mem2g", "local[8]", "8", "2g"),
]

_CHILD = r"""
import json, sys
label, master, sp, mem, sf_dir, qname = sys.argv[1:7]
from pyspark.sql import SparkSession
b = SparkSession.builder.appName("als-env-sweep-" + label)
if master != "-":
    b = b.master(master)
if sp != "-":
    b = b.config("spark.sql.shuffle.partitions", sp)
if mem != "-":
    b = b.config("spark.driver.memory", mem)
spark = b.getOrCreate()
import __spark_entry__ as e
from check import normalize
import hashlib
df = e.queries()[qname](spark, sf_dir)
cols = df.columns
rows = [tuple(r) for r in df.collect()]
nc, nr = normalize(cols, rows)
h = hashlib.sha256(repr((nc, nr)).encode()).hexdigest()[:16]
print("SWEEPROW " + json.dumps({
    "label": label, "hash": h, "cols": cols,
    "rows": [[repr(v) for v in r] for r in rows],
}))
spark.stop()
"""


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    qname = argv[1] if len(argv) > 1 else "recsys_als_eval"

    import duckdb

    import __spark_entry__ as e
    from check import TABLES, normalize

    con = duckdb.connect()
    con.execute("SET memory_limit='16GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(e.oracle_sql()[qname])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    import hashlib

    onc, onr = normalize(ocols, orows)
    ohash = hashlib.sha256(repr((onc, onr)).encode()).hexdigest()[:16]
    con.close()

    results = []
    env = dict(os.environ)
    # the child must not inherit repo-session tuning
    for k in list(env):
        if k.startswith("SPARK_GRAFT_"):
            env.pop(k)
    # Spark's python workers resolve imports from PYTHONPATH/cwd, not
    # from the driver's sys.path inserts — run from the repo root and
    # export it so executors can unpickle package functions.
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.join(ROOT, "tools"), env.get("PYTHONPATH", "")]
    )
    for label, master, sp, mem in CONFIGS:
        t0 = time.time()
        p = subprocess.run(
            [
                sys.executable, "-c", _CHILD, label,
                master or "-", sp or "-", mem or "-", sf_dir, qname,
            ],
            capture_output=True, text=True, env=env,
            cwd=ROOT, timeout=900,
        )
        line = next(
            (
                ln[len("SWEEPROW "):]
                for ln in p.stdout.splitlines()
                if ln.startswith("SWEEPROW ")
            ),
            None,
        )
        if line is None:
            results.append({"label": label, "error": p.stderr[-2000:]})
            print(f"ERROR  {label}: no result line [{time.time()-t0:.0f}s]")
            continue
        rec = json.loads(line)
        rec["match_oracle"] = rec["hash"] == ohash
        results.append(rec)
        print(
            f"{'OK   ' if rec['match_oracle'] else 'DIFF '}"
            f"{label}: hash={rec['hash']} oracle={ohash} "
            f"[{time.time()-t0:.0f}s]"
        )

    art = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), f"ALS_SWEEP_{qname}.json")
    with open(art, "w") as f:
        json.dump(
            {
                "query": qname,
                "sf_dir": sf_dir,
                "duckdb_version": duckdb.__version__,
                "oracle_hash": ohash,
                "oracle_cols": ocols,
                "oracle_rows": [[repr(v) for v in r] for r in orows],
                "configs": results,
            },
            f, indent=2,
        )
    print(f"artifact: {art}")
    bad = [r for r in results if not r.get("match_oracle")]
    print(f"{len(results) - len(bad)}/{len(results)} configs match the oracle")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
