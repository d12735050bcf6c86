"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
the given sf dir, then compares row count, schema (column names, and each
column's type class: integer, decimal, floating, string, boolean, date,
timestamp, nested), and an order-insensitive value comparison (columns
sorted by name, rows sorted, doubles compared via repr after
normalization). Values are compared as strings, so the type classes are
what catches e.g. a DuckDB HUGEINT sum against a Spark bigint.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def spark_type_class(dt) -> str:
    from pyspark.sql import types as T

    for cls, name in (
        (T.IntegralType, "integer"),
        (T.DecimalType, "decimal"),  # before FractionalType, its base
        (T.FractionalType, "floating"),
        (T.StringType, "string"),
        (T.BooleanType, "boolean"),
        (T.DateType, "date"),
        ((T.TimestampType, T.TimestampNTZType), "timestamp"),
        ((T.ArrayType, T.MapType, T.StructType), "nested"),
    ):
        if isinstance(dt, cls):
            return name
    return dt.typeName()


def duckdb_type_class(t: str) -> str:
    if t.endswith("]") or t.startswith(("STRUCT", "MAP", "UNION")):
        return "nested"
    if t.startswith("DECIMAL") or t.endswith("HUGEINT"):
        return "decimal"
    if t.endswith("INT") or t == "INTEGER":
        return "integer"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return {
        "FLOAT": "floating", "DOUBLE": "floating", "VARCHAR": "string",
        "BOOLEAN": "boolean", "DATE": "date",
    }.get(t, t.lower())


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check.py [SF_DIR] [QUERY…] [--json PATH]")
            return 2
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e
    from collection_templates_spark.session import get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    # r6: by the tail of a 78-oracle run the Spark JVM has grown tens of
    # GB and DuckDB's default memory_limit (80 % of RAM) collides with
    # it — allocation failures on queries that pass standalone. A modest
    # explicit limit makes DuckDB spill instead of fail; sf0.01 oracles
    # never genuinely need more.
    con.execute("SET memory_limit='16GB'")
    con.execute("SET temp_directory='/tmp/duckdb_check_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"WARN: unknown query name(s): {sorted(unknown)}")
    failures = []
    checked = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        rec = {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": None, "oracle_rows": None,
            "err": None,
        }
        report[name] = rec
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = {
                f.name: spark_type_class(f.dataType)
                for f in sdf.schema.fields
            }
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            rec["err"] = f"spark: {ex}"
            failures.append(name)
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            rec["oracle_rows"] = len(drows)
            dtypes = {
                col: duckdb_type_class(t)
                for col, t, *_ in con.execute(
                    f"DESCRIBE {oracles[name]}"
                ).fetchall()
            }
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            rec["err"] = f"duckdb: {ex}"
            failures.append(name)
            continue
        sc, sr = normalize(scols, srows)
        dc, dr = normalize(dcols, drows)
        types = {
            c: (t, dtypes.get(c)) for c, t in stypes.items()
            if t != dtypes.get(c)
        }
        rec["schema_match"] = sc == dc and not types
        rec["rows_match"] = len(sr) == len(dr)
        rec["hash_match"] = sr == dr
        if sc != dc:
            print(f"FAIL {name}: schema {sc} vs {dc}")
            failures.append(name)
        elif types:
            print(f"FAIL {name}: types (spark, duckdb) {types}")
            failures.append(name)
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(dr)}")
            failures.append(name)
        elif sr != dr:
            diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL {name}: values differ, e.g. {diff}")
            failures.append(name)
        else:
            print(f"PASS {name} ({len(sr)} rows) [{time.time()-t0:.1f}s]")
    # r5 verdict #5: report the number of queries ACTUALLY checked — a
    # filtered run must not claim the full bank passed
    print(f"\n{checked - len(failures)}/{checked} pass"
          + ("" if not only else f" (of {len(qs)} in bank)"))
    if json_path:
        # CHECKLOCAL artifact (r8 verdict #5): the full-bank result in
        # the driver's CORRECTNESS_r*.json record shape, committed per
        # round so the unsampled half needs no judge re-run
        import json as _json

        with open(json_path, "w") as f:
            _json.dump(report, f, indent=2)
    return 1 if failures or unknown else 0


if __name__ == "__main__":
    raise SystemExit(main())
