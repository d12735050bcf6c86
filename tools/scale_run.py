"""Measure wall-time scaling of the heaviest bank queries across sf dirs.

Runs each heavy query N times per sf dir (default: sf0.1 and the
derived sf1 from tools/make_scaled_data.py), takes the per-sf MIN
(noise floor, same statistic as bench.py), and reports the scaling
exponent  log(t_big / t_small) / log(rows_big / rows_small)  — 1.0 is
linear, <1 means fixed overheads still dominate, >1.3 flags a
superlinear stage that needs profiling (docs/SCALE.md records the
table).

The bank's three result memos (_TRAINER_MEMO / _INCR_INDEX_MEMO /
_ANN_INDEX_MEMO) are cleared before EVERY run so memoized families pay
their full cost each time — otherwise runs 2+ of ANN/incremental rows
would measure a dict lookup.

Usage:
  python tools/scale_run.py [--runs 3] [--ratio 10] [small_dir big_dir]
Prints one JSON line per query plus a markdown table on stderr-free
stdout; exit code 0 always (measurement tool, not a gate).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_semantic",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "graph_pagerank",
    "graph_hits",
    "rollup_refresh",
    "search_stemmed_ltr",
    "text_containment",
    "sketch_cms_errors",
]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 3
    ratio = 10.0
    dirs: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--ratio":
            ratio = float(args[i + 1]); i += 2
        elif args[i] == "--queries":
            # override the HEAVY list: comma-separated bank keys
            HEAVY[:] = args[i + 1].split(","); i += 2
        else:
            dirs.append(args[i]); i += 1
    if not dirs:
        dirs = ["/root/testdata/sf0.1", "/tmp/spark_graft_sf1"]
    assert len(dirs) == 2, "need exactly two sf dirs (small, big)"

    from collection_templates_spark.plans import testdata_queries as tq
    from collection_templates_spark.session import get_spark

    spark = get_spark("scale-run")
    results: dict[str, dict] = {}
    for name in HEAVY:
        fn = tq.QUERIES[name]
        mins = []
        for d in dirs:
            ts = []
            for _ in range(runs):
                tq._TRAINER_MEMO.clear()
                tq._INCR_INDEX_MEMO.clear()
                tq._ANN_INDEX_MEMO.clear()
                tq._DELTA_APPENDED.clear()
                t0 = time.time()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                ts.append(round(time.time() - t0, 3))
            mins.append(min(ts))
        t_small, t_big = mins
        exp = round(math.log(t_big / t_small) / math.log(ratio), 3)
        results[name] = {
            "t_small": t_small,
            "t_big": t_big,
            "ratio": round(t_big / t_small, 2),
            "exponent": exp,
        }
        print(json.dumps({"query": name, **results[name]}), flush=True)

    print("\n| query | t(sf0.1) s | t(sf1) s | ratio | exponent |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['t_small']:.2f} | {r['t_big']:.2f} "
              f"| {r['ratio']:.2f}x | {r['exponent']:.2f} |")


if __name__ == "__main__":
    main()
