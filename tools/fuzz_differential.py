"""Differential query fuzzing: random ANSI-subset SQL executed by BOTH
Spark SQL and DuckDB over the same parquet tables, results compared
order-insensitively.

The generator stays inside the dialect intersection (arithmetic, CASE,
comparisons, AND/OR/NOT, GROUP BY with count/min/max and 2dp-rounded
sum/avg on doubles) so a single query string is valid in both engines —
every generated query is an independent correctness check of filter
pushdown, null semantics, aggregation and grouping across the whole
engine stack.

Usage: python tools/fuzz_differential.py [n_queries] [seed] [sf_dir]
"""

from __future__ import annotations

import os
import random
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = {
    "lineitem": {
        "int": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "double": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "string": ["l_returnflag", "l_linestatus"],
    },
    "orders": {
        "int": ["o_orderkey", "o_custkey"],
        "double": ["o_totalprice"],
        "string": ["o_orderstatus", "o_orderpriority"],
    },
    "customer": {
        "int": ["c_custkey", "c_nationkey"],
        "double": ["c_acctbal"],
        "string": ["c_name", "c_mktsegment"],
    },
    "part": {
        "int": ["p_partkey", "p_size"],
        "double": ["p_retailprice"],
        "string": ["p_name", "p_brand", "p_type"],
    },
}

STRING_LITERALS = ["'A'", "'O'", "'F'", "'Brand#1'", "'BUILDING'", "'x'"]

# (left, right, left key, right key) equi-join templates
JOINS = [
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
]


class Gen:
    def __init__(self, rng: random.Random, table: str):
        self.rng = rng
        self.cols = TABLES[table]

    def num_expr(self, depth: int = 0) -> str:
        r = self.rng
        if depth > 1 or r.random() < 0.4:
            choices = self.cols["int"] + self.cols["double"]
            if r.random() < 0.25:
                return str(r.randint(0, 100))
            return r.choice(choices)
        a, b = self.num_expr(depth + 1), self.num_expr(depth + 1)
        op = r.choice(["+", "-", "*"])
        return f"({a} {op} {b})"

    def predicate(self, depth: int = 0) -> str:
        r = self.rng
        kind = r.random()
        if depth < 1 and kind < 0.3:
            a, b = self.predicate(depth + 1), self.predicate(depth + 1)
            return f"({a} {r.choice(['AND', 'OR'])} {b})"
        if kind < 0.65:
            return (
                f"({self.num_expr(1)} {r.choice(['<', '<=', '>', '>=', '=', '<>'])} "
                f"{self.num_expr(1)})"
            )
        col = r.choice(self.cols["string"])
        if r.random() < 0.5:
            return f"({col} {r.choice(['=', '<>'])} {r.choice(STRING_LITERALS)})"
        return f"({col} IS NOT NULL)"

    def agg_exprs(self) -> list[str]:
        r = self.rng
        out = ["count(*) AS cnt"]
        for i in range(r.randint(1, 3)):
            col = r.choice(self.cols["int"] + self.cols["double"])
            fn = r.choice(["min", "max", "sum", "avg"])
            # fp aggregates emitted RAW and compared with numeric
            # tolerance (rows_match): a round() in the query amplifies a
            # last-ulp summation-order difference into a whole rounding
            # step (seen live: avg → 4909.605 ± 1ulp → '4909.61' vs
            # '4909.6'). Integer sums stay exact integers (Spark LONG vs
            # DuckDB HUGEINT both normalize to the same decimal string).
            out.append(f"{fn}({col}) AS a{i}")
        return out

    def str_expr(self) -> str:
        r = self.rng
        col = r.choice(self.cols["string"])
        return r.choice(
            [
                f"upper({col})",
                f"lower({col})",
                f"substr({col}, 1, 3)",
                f"length({col})",
                f"({col} || '_x')",
            ]
        )

    def query(self, table: str) -> str:
        r = self.rng
        where = self.predicate()
        if r.random() < 0.6:
            group = r.choice(self.cols["string"])
            aggs = ", ".join(self.agg_exprs())
            having = (
                f" HAVING count(*) > {r.randint(0, 5)}"
                if r.random() < 0.4
                else ""
            )
            return (
                f"SELECT {group}, {aggs} FROM {table} "
                f"WHERE {where} GROUP BY {group}{having}"
            )
        cols = r.sample(
            self.cols["string"] + self.cols["int"], k=r.randint(1, 3)
        )
        case = (
            f"CASE WHEN {self.predicate(1)} THEN 1 ELSE 0 END AS flag"
        )
        sel = f"{', '.join(cols)}, {self.str_expr()} AS s0, {case}"
        q = f"SELECT {sel} FROM {table} WHERE {where}"
        if r.random() < 0.3:
            # total order over every output column makes LIMIT a
            # deterministic multiset even with duplicate rows
            n_out = len(cols) + 2
            order = ", ".join(str(i + 1) for i in range(n_out))
            q += f" ORDER BY {order} LIMIT 100"
        return q


def join_query(rng: random.Random) -> str:
    """Equi-join + filter + group-by across the joined pair; join type
    drawn from INNER/LEFT (LEFT exercises null-propagation through aggs)."""
    left, right, lk, rk = rng.choice(JOINS)
    gl, gr = Gen(rng, left), Gen(rng, right)
    how = rng.choice(["JOIN", "LEFT JOIN"])
    group = rng.choice(gl.cols["string"])
    aggs = ["count(*) AS cnt"]
    side = gr if how == "JOIN" and rng.random() < 0.5 else gl
    col = rng.choice(side.cols["double"] + side.cols["int"])
    fn = rng.choice(["min", "max", "count"])
    aggs.append(f"{fn}({col}) AS a0")
    where = gl.predicate(1)
    return (
        f"SELECT {group}, {', '.join(aggs)} FROM {left} {how} {right} "
        f"ON {lk} = {rk} WHERE {where} GROUP BY {group}"
    )


def window_query(rng: random.Random) -> str:
    """Window functions from the tie-safe subset (§2.8): rank/dense_rank
    (equal keys share a rank — deterministic under duplicate sort keys,
    unlike row_number), partition-only aggregates, and ordered running
    aggregates over INT columns (the ANSI default frame is RANGE, so a
    tie group shares one value and integer sums are exact in both
    engines). Every choice here is deliberately insensitive to the
    engines' differing tie orders and fp summation orders. Null ordering
    is always EXPLICIT (r4 advice): Spark defaults ASC to NULLS FIRST
    while DuckDB defaults to NULLS LAST, so a nullable ORDER BY column
    under engine defaults would report false rank/running-sum
    mismatches; both engines accept the explicit syntax."""
    table = rng.choice(list(TABLES))
    g = Gen(rng, table)
    part = rng.choice(g.cols["string"])
    ord1 = rng.choice(g.cols["int"] + g.cols["double"])
    sum_col = rng.choice(g.cols["int"])
    exprs = [
        part,
        sum_col,
        f"rank() OVER (PARTITION BY {part} "
        f"ORDER BY {ord1} NULLS FIRST) AS r0",
        f"dense_rank() OVER (PARTITION BY {part} "
        f"ORDER BY {ord1} DESC NULLS LAST) AS r1",
        f"count(*) OVER (PARTITION BY {part}) AS c0",
        f"sum({sum_col}) OVER (PARTITION BY {part} "
        f"ORDER BY {sum_col} NULLS FIRST) AS rs",
    ]
    if rng.random() < 0.5:
        mcol = rng.choice(g.cols["double"] + g.cols["int"])
        exprs.append(
            f"max({mcol}) OVER (PARTITION BY {part} "
            f"ORDER BY {ord1} NULLS FIRST) AS m0"
        )
    return (
        f"SELECT {', '.join(exprs)} FROM {table} WHERE {g.predicate()}"
    )


def setop_query(rng: random.Random) -> str:
    """Set operations between two filtered projections of one table:
    UNION (distinct), UNION ALL (multiset), INTERSECT, EXCEPT — ANSI
    set semantics are identical in both engines and the comparison is
    already order-insensitive, so no extra normalization is needed."""
    table = rng.choice(list(TABLES))
    g = Gen(rng, table)
    cols = rng.sample(
        g.cols["string"] + g.cols["int"], k=rng.randint(1, 3)
    )
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
    sel = ", ".join(cols)
    return (
        f"SELECT {sel} FROM {table} WHERE {g.predicate()} "
        f"{op} SELECT {sel} FROM {table} WHERE {g.predicate()}"
    )


def subquery_query(rng: random.Random) -> str:
    """IN / NOT IN / EXISTS / NOT EXISTS subqueries over the join-key
    pairs — the declarative forms Spark plans as semi/anti joins. The
    TPC-H-ish keys are non-null, so NOT IN's tri-valued-null trap (one
    NULL in the subquery empties the result) cannot fire asymmetrically."""
    left, right, lk, rk = rng.choice(JOINS)
    gl, gr = Gen(rng, left), Gen(rng, right)
    form = rng.choice(["IN", "NOT IN", "EXISTS", "NOT EXISTS"])
    inner_pred = gr.predicate(1)
    if form in ("IN", "NOT IN"):
        where = f"{lk} {form} (SELECT {rk} FROM {right} WHERE {inner_pred})"
    else:
        where = (
            f"{form} (SELECT 1 FROM {right} "
            f"WHERE {rk} = {lk} AND {inner_pred})"
        )
    group = rng.choice(gl.cols["string"])
    return (
        f"SELECT {group}, count(*) AS cnt FROM {left} "
        f"WHERE {where} GROUP BY {group}"
    )


def norm(rows) -> list[tuple]:
    import math

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # integral floats print like ints so LONG-vs-DOUBLE result-type
            # divergence between engines doesn't read as a value mismatch
            if v == int(v) and abs(v) < 2**53:
                return str(int(v))
            return repr(round(v, 6))
        return str(v)

    return sorted(tuple(cell(c) for c in row) for row in rows)


def rows_match(a_rows: list[tuple], b_rows: list[tuple]) -> bool:
    """Order-insensitive comparison (inputs pre-sorted by norm) with
    numeric tolerance: float cells may differ by last-ulp summation-order
    noise between engines; 1e-6 absolute+relative absorbs it without
    masking real value bugs (which differ by whole units)."""
    import math

    if len(a_rows) != len(b_rows):
        return False
    for ra, rb in zip(a_rows, b_rows):
        if len(ra) != len(rb):
            return False
        for ca, cb in zip(ra, rb):
            if ca == cb:
                continue
            try:
                fa, fb = float(ca), float(cb)
            except (TypeError, ValueError):
                return False
            if math.isnan(fa) and math.isnan(fb):
                continue
            if abs(fa - fb) > 1e-6 + 1e-6 * max(abs(fa), abs(fb)):
                return False
    return True


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"

    from collection_templates_spark.session import get_spark
    from collection_templates_spark.sources.testdata import register_views

    spark = get_spark("fuzz")
    register_views(spark, sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    rng = random.Random(seed)
    failures = 0
    for i in range(n):
        roll = rng.random()
        if roll < 0.25:
            q = join_query(rng)
        elif roll < 0.4:
            q = window_query(rng)
        elif roll < 0.55:
            q = setop_query(rng)
        elif roll < 0.7:
            q = subquery_query(rng)
        else:
            table = rng.choice(list(TABLES))
            q = Gen(rng, table).query(table)
        try:
            s_rows = norm([tuple(r) for r in spark.sql(q).collect()])
        except Exception as ex:  # noqa: BLE001
            print(f"[{i}] SPARK ERROR {ex}\n  {q}")
            failures += 1
            continue
        try:
            d_rows = norm(con.execute(q).fetchall())
        except Exception as ex:  # noqa: BLE001
            print(f"[{i}] DUCKDB ERROR {ex}\n  {q}")
            failures += 1
            continue
        if not rows_match(s_rows, d_rows):
            diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:2]
            print(f"[{i}] MISMATCH rows {len(s_rows)} vs {len(d_rows)}\n  {q}\n  {diff}")
            failures += 1
    print(f"{n - failures}/{n} queries agree (seed={seed})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
