"""Per-query profiler: times named bank queries through the noop sink,
counts their Spark jobs, and captures their ``explain("formatted")``
output.

Usage::

    python tools/profile_query.py [--sf DIR] [--runs N] [--plans OUTDIR] q1 q2 ...

Methodology matches bench.py (its ``warmup``, same noop sink, min-of-N wall
seconds) so numbers here are comparable to the bench headline. Each run
builds the DataFrame under one job group and writes it under another, so
every query's JSON line reports ``build_jobs`` (jobs started while the
plan is built: eager lineage cuts, ``isEmpty`` probes, AQE stages of lazy
cuts) and ``exec_jobs`` (jobs of the write) per run; the first run is
the one that fills any bank memo.

Plans are written after the timed runs to ``OUTDIR/<query><suffix>.txt``
when ``--plans`` is given, with the per-session expression ids
(``#123``), RDD ids (``RDD[45]``), exchange ids (``plan_id=67``) and
the per-process testdata relayout directory replaced by placeholders, so
the plans of one query from two checkouts compare with a plain
``diff``::

    (cd old && python tools/profile_query.py --plans /tmp/p --suffix _old q) > old.jsonl
    python tools/profile_query.py --plans /tmp/p --suffix _new q > new.jsonl
    diff /tmp/p/q_old.txt /tmp/p/q_new.txt; diff old.jsonl new.jsonl
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"spark_relayout_pid\w+"), "spark_relayout_N"),
]


def normalize_plan(text: str) -> str:
    """``text`` with the session-specific expression and RDD ids
    replaced by placeholders."""
    for pat, repl in _IDS:
        text = pat.sub(repl, text)
    return text


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="directory for explain output")
    ap.add_argument("--suffix", default="", help="filename suffix, e.g. _before")
    args = ap.parse_args()

    import __spark_entry__ as e
    from bench import warmup
    from collection_templates_spark.session import get_spark

    spark = get_spark("profile")
    sc = spark.sparkContext
    qs = e.queries()
    missing = [q for q in args.queries if q not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    warmup(spark, args.sf)

    def jobs(group: str) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    out: dict[str, list[float]] = {}
    for name in args.queries:
        fn = qs[name]
        ts, build_jobs, exec_jobs = [], [], []
        for i in range(args.runs):
            group = f"profile:{name}:{i}"
            t0 = time.perf_counter()
            sc.setJobGroup(f"{group}:build", f"profile:{name}")
            df = fn(spark, args.sf)
            sc.setJobGroup(f"{group}:exec", f"profile:{name}")
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            build_jobs.append(jobs(f"{group}:build"))
            exec_jobs.append(jobs(f"{group}:exec"))
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            sc.setJobGroup(f"profile:{name}:plan", f"profile:{name}")
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(normalize_plan(buf.getvalue()))
        out[name] = ts
        print(
            json.dumps(
                {
                    "query": name,
                    "runs": ts,
                    "min": min(ts),
                    "build_jobs": build_jobs,
                    "exec_jobs": exec_jobs,
                }
            ),
            flush=True,
        )
    print(json.dumps({"total_min": round(sum(min(v) for v in out.values()), 3)}))


if __name__ == "__main__":
    main()
