"""``bank``: a stratified sample of query-bank rows on seeded tables.

The three row families are read from the registry, so they follow the code:
- ``graph``: the ``graph_*`` rows, iterative and bound by the fixed cost
  per Spark job (12-54 jobs a row over tiny frontiers);
- ``scan``: the ``agg_*``/``join_*``/``filter_*``/``window_*`` rows, which
  read and shuffle lineitem with 2-10 jobs;
- ``memo``: ``memo_backed_queries()``, served from the process-lifetime
  memos after their first run, so their cost is almost all cold.

A run cannot afford every row (96 at 13 + 49 + 34), so it takes rows at
evenly spaced positions of sorted lists: one of the graph family, two of
the memo family and one of each scan prefix. Memo rows whose DuckDB oracle
runs for over 20 s on these tables are left out of the sample: their output
check would outlast the run.

One cold pass runs every sampled row once through the noop sink
(``cold_s``); warm passes repeat it until the measuring window is used up,
and a traced run makes at least ``MIN_WARM_PASSES`` of them for the memo
hit counts. Row order is the sorted names permuted by the seed.
Afterwards, outside the timed passes, each row's output is collected and
compared, order-insensitively, with that of the row's DuckDB oracle on the
same tables.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import random
import shutil
import statistics
import time

import bankdata
import env
import harness
from spans import Tracer

SCAN_PREFIXES = ("agg", "join", "filter", "window")
SLOW_ORACLE = (
    "ann_ivfpq_topk", "ann_pq_recall", "ann_pq_rerank", "ann_pq_topk",
    "ann_respq_recall", "ann_respq_topk",
)
MIN_WARM_PASSES = 1
LAYERS = ("sources.testdata", "bank.graph", "bank.scan", "bank.memo")


def families() -> dict[str, list[str]]:
    from collection_templates_spark.plans.testdata_queries import QUERIES, memo_backed_queries

    names = sorted(QUERIES)
    return {
        "graph": [n for n in names if n.startswith("graph_")],
        "scan": [n for n in names if n.split("_", 1)[0] in SCAN_PREFIXES],
        "memo": [n for n in memo_backed_queries() if n not in SLOW_ORACLE],
    }


def _midpoints(rows: list[str], k: int) -> list[str]:
    """The middle row of each of ``k`` equal slices of ``rows``."""
    return [rows[(2 * i + 1) * len(rows) // (2 * k)] for i in range(k)]


def sample() -> dict[str, str]:
    """Sampled row -> its family."""
    fams = families()
    picks = {
        "graph": _midpoints(fams["graph"], 1),
        "scan": [
            _midpoints([n for n in fams["scan"] if n.startswith(p + "_")], 1)[0]
            for p in SCAN_PREFIXES
        ],
        "memo": _midpoints(fams["memo"], 2),
    }
    return {row: fam for fam, rows in picks.items() for row in rows}


def row_order(rows, seed: int) -> list[str]:
    rows = sorted(rows)
    random.Random(seed).shuffle(rows)
    return rows


# ---- output check. Floats are compared with a tolerance: Spark and DuckDB
# round half-way cases differently (round(x, 6) of a pagerank score, a
# decimal revenue cast to double), so a last-digit difference is expected.
def _cell(v):
    if isinstance(v, (float, decimal.Decimal)):
        return float(v) + 0.0
    if v is None:
        return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (int, str, bool)):
        return v
    return str(v)


def canonical(cols, rows) -> dict:
    """Columns sorted by name; rows sorted by their non-float cells, then
    their floats. JSON-safe, so it can be kept on disk."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(r):
        exact = [json.dumps(c, default=str) for c in r if not isinstance(c, float)]
        floats = [c for c in r if isinstance(c, float) and not math.isnan(c)]
        return exact, floats

    out = [[_cell(r[i]) for i in order] for r in rows]
    out.sort(key=key)
    return {"cols": [cols[i] for i in order], "rows": out}


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-3, abs_tol=1e-5)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b


def mismatch(got: dict, want: dict) -> str | None:
    """None when the outputs agree, else what differs first."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    for g, w in zip(got["rows"], want["rows"]):
        if not _same(g, w):
            return f"row {g} != {w}"[:300]
    return None


def expected_outputs(data: str, rows) -> dict[str, dict]:
    """The oracle's canonical output of each row on this seed's tables,
    computed with DuckDB once and kept next to the tables."""
    path = os.path.join(data, "expected.json")
    have = {}
    if os.path.exists(path):
        with open(path) as f:
            have = json.load(f)
    missing = sorted(set(rows) - set(have))
    if not missing:
        return have
    import duckdb

    from collection_templates_spark.plans.testdata_queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{os.path.join(env.TMP_DIR, 'duckdb')}'")
        for t in bankdata.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for row in missing:
            res = con.execute(ORACLE_SQL[row])
            have[row] = canonical([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    with open(path, "w") as f:
        json.dump(have, f)
    return have


# ---- memo accounting from outside: entries in the process-lifetime memos
def memo_entries() -> int:
    import collection_templates_spark.plans.testdata_queries as tq
    import collection_templates_spark.sources.testdata as td

    return (
        len(tq._TRAINER_MEMO) + len(tq._INCR_INDEX_MEMO) + len(tq._ANN_INDEX_MEMO)
        + len(td._DF_MEMO) + len(td._RELAYOUT_CACHE)
    )


class LoaderCounts:
    """Wraps ``sources.testdata.load_table`` (traced runs only): calls,
    DataFrame-memo hits and relayout copies written."""

    def __init__(self, tracer: Tracer):
        import collection_templates_spark.sources.testdata as td

        self.calls = self.hits = self.relayouts = 0
        orig = td.load_table

        def load_table(spark, name, sf_dir=td.DEFAULT_SF_DIR):
            memo, relayout = len(td._DF_MEMO), dict(td._RELAYOUT_CACHE)
            with tracer.span(f"load {name}", "sources.testdata", "build"):
                df = orig(spark, name, sf_dir)
            self.calls += 1
            self.hits += len(td._DF_MEMO) == memo
            self.relayouts += sum(
                1 for k, v in td._RELAYOUT_CACHE.items() if k not in relayout and v != k[0]
            )
            return df

        tracer.patch_with(td, "load_table", load_table)


def _pass(spark, sf: str, rows, family, queries, tracer, failures, label) -> tuple[float, dict]:
    """Run every row once through the noop sink; a row that raises is
    recorded and the pass carries on."""
    per_row: dict[str, dict] = {}
    t_pass = time.perf_counter()
    for row in rows:
        layer = f"bank.{family[row]}"
        before = memo_entries()
        t0 = time.perf_counter()
        try:
            with tracer.span(row, layer, "build"):
                df = queries[row](spark, sf)
            with tracer.span(row, layer, "exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - failure isolation per row
            failures.append({"unit": f"{label}:{row}", "error": type(e).__name__,
                             "detail": str(e)[:300]})
        per_row[row] = {"s": time.perf_counter() - t0, "memo_added": memo_entries() - before}
    return time.perf_counter() - t_pass, per_row


def run(seed: int, seconds: int, trace: bool) -> dict:
    data = os.path.join(env.DATA_DIR, f"bank-s{seed}")
    t0 = time.perf_counter()
    bankdata.write_tables(seed, data)
    gen_s = time.perf_counter() - t0
    work = os.path.join(env.WORK_DIR, "bank")
    shutil.rmtree(work, ignore_errors=True)

    # a fresh copy of the tables per set-up round, so every round pays the
    # loader's relayout; the passes use the last round's copy
    copies = iter(os.path.join(work, f"setup{k}") for k in range(harness.SETUP_ROUNDS))
    tracer = loader = sf = None

    def ready(spark, last):
        nonlocal tracer, loader, sf
        from collection_templates_spark.sources.testdata import load_tables

        sf = next(copies)
        if last:
            tracer = Tracer(spark, trace)
            if trace:
                loader = LoaderCounts(tracer)
        for df in load_tables(spark, sf).values():
            df.schema

    for k in range(harness.SETUP_ROUNDS):
        shutil.copytree(data, os.path.join(work, f"setup{k}"))
    spark, setup_s, rounds = harness.setup_rounds(ready, trace)
    from collection_templates_spark.plans.testdata_queries import QUERIES

    family = sample()
    rows = row_order(family, seed)
    failures: list[dict] = []
    w_start = time.perf_counter()
    cold_s, cold_rows = _pass(spark, sf, rows, family, QUERIES, tracer, failures, "cold")
    warm, warm_rows = [], []
    while (trace and len(warm) < MIN_WARM_PASSES) or time.perf_counter() - w_start < seconds:
        s, per = _pass(spark, sf, rows, family, QUERIES, tracer, failures,
                       f"warm{len(warm) + 1}")
        warm.append(s)
        warm_rows.append(per)
    if trace:
        tracer.unpatch()
    peak = harness.peak_rss_mb(spark)
    persisted = harness.dir_mb(env.TMP_DIR)

    # output check, outside the timed passes
    expected = expected_outputs(data, rows)
    for row in sorted(rows):
        try:
            df = QUERIES[row](spark, sf)
            diff = mismatch(canonical(df.columns, [tuple(r) for r in df.collect()]),
                            expected[row])
            if diff:
                failures.append({"unit": f"check:{row}", "error": "mismatch", "detail": diff})
        except Exception as e:  # noqa: BLE001
            failures.append({"unit": f"check:{row}", "error": type(e).__name__,
                             "detail": str(e)[:300]})

    out = {
        "units": len(rows) * (1 + len(warm)) + len(rows),
        "failures": failures,
        "gen_s": gen_s,
        "setup_rounds": rounds,
        "rows": family,
        "cold_rows": cold_rows,
        "warm_passes_s": warm,
        "metrics": {
            "setup_s": setup_s,
            "cold_s": cold_s,
            "peak_rss_mb": peak,
            "persisted_mb": persisted,
        },
    }
    if trace:
        tracer.finish()
        per = {}
        for layer, t in tracer.layer_totals(LAYERS).items():
            per.update({f"{layer}.{k}": v for k, v in t.items()})
        memo_rows = [r for r in rows if family[r] == "memo"]
        memo_calls = [p[r] for p in warm_rows for r in memo_rows]
        per.update({
            "memo.cold_entries_added": sum(cold_rows[r]["memo_added"] for r in memo_rows),
            "memo.entries_added": sum(c["memo_added"] for c in memo_calls),
            "memo.hit_ratio": sum(c["memo_added"] == 0 for c in memo_calls) / len(memo_calls),
            "memo.calls": len(memo_calls),
            "sources.testdata.memo_hit_ratio": loader.hits / loader.calls if loader.calls else 0.0,
            "sources.testdata.calls": loader.calls,
            "sources.testdata.relayout_writes": loader.relayouts,
            "trace.cold_s": cold_s,
            "trace.warm_s": statistics.median(warm),
            "trace.attributed_frac": tracer.covered_seconds(w_start, w_start + cold_s) / cold_s,
        })
        out["per_layer"] = per
        out["spans"] = tracer.spans
    return out
