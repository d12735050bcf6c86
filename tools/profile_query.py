"""Per-query profiler: times named bank queries through the noop sink and
captures their ``explain("formatted")`` output.

Usage::

    python tools/profile_query.py [--sf DIR] [--runs N] [--plans OUTDIR] q1 q2 ...

Methodology matches bench.py (its ``warmup``, same noop sink, min-of-N wall
seconds) so numbers here are comparable to the bench headline. Plans are
written to ``OUTDIR/<query>.txt`` when ``--plans`` is given — the
round-15 evidence convention is ``plans/r15/<query>_before.txt`` /
``_after.txt``, so pass e.g. ``--plans plans/r15 --suffix _before``.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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
    qs = e.queries()
    missing = [q for q in args.queries if q not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    warmup(spark, args.sf)

    out: dict[str, list[float]] = {}
    for name in args.queries:
        fn = qs[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
        ts = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = ts
        print(json.dumps({"query": name, "runs": ts, "min": min(ts)}), flush=True)
    print(json.dumps({"total_min": round(sum(min(v) for v in out.values()), 3)}))


if __name__ == "__main__":
    main()
