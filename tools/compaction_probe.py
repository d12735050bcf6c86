"""Measure probe latency vs accumulated append count for the two
persisted incremental indexes, before and after compaction — the
metadata-pressure curve operators/index_maintenance exists to flatten.

Usage: python tools/compaction_probe.py [n_appends] [batch_rows]
Prints a markdown table (append count, data files, probe seconds) plus
the post-compaction row; paste into docs/SCALE.md.
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _docs(spark, ids, seed):
    rng = random.Random(seed)
    vocab = (
        "spark shuffle parquet column prune join broadcast stream state "
        "window batch merge sort hash scan filter agg union dedup band"
    ).split()
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(18)))
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, ids, seed):
    rng = random.Random(seed)
    rows = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(16)])
        for i in ids
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def main() -> None:
    n_appends = int(sys.argv[1]) if len(sys.argv) > 1 else 48
    batch_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 200

    from collection_templates_spark.operators.incremental_ann import (
        ann_batch_against_index,
        append_to_ivf_index,
        build_ivf_index,
    )
    from collection_templates_spark.operators.incremental_dedup import (
        append_to_index,
        build_minhash_index,
        dedup_batch_against_index,
        scratch_index_path,
    )
    from collection_templates_spark.operators.incremental_ann import (
        scratch_ann_index_path,
    )
    from collection_templates_spark.operators.index_maintenance import (
        compact_ivf_index,
        compact_minhash_index,
        parquet_file_count,
    )
    from collection_templates_spark.session import get_spark

    spark = get_spark("compaction-probe")
    checkpoints = sorted(
        {1, 8, n_appends // 2, n_appends} - {0}
    )

    def probe_time(fn, reps=3):
        best = float("inf")
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            best = min(best, time.monotonic() - t0)
        return best

    # ---- dedup index -------------------------------------------------
    idx = scratch_index_path()
    build_minhash_index(_docs(spark, range(batch_rows), 0), idx)
    probe = _docs(spark, range(10_000, 10_050), 999)
    rows = []
    done = 0
    for cp in checkpoints:
        for a in range(done, cp):
            append_to_index(
                _docs(
                    spark,
                    range((a + 1) * batch_rows, (a + 2) * batch_rows),
                    a + 1,
                ),
                idx,
            )
        done = cp
        t = probe_time(
            lambda: dedup_batch_against_index(spark, idx, probe).count()
        )
        rows.append((cp, parquet_file_count(idx), t))
    stats = compact_minhash_index(spark, idx)
    t = probe_time(
        lambda: dedup_batch_against_index(spark, idx, probe).count()
    )
    print("\n## dedup index: probe time vs accumulated appends\n")
    print("| appends | data files | probe s (min of 3) |")
    print("|---|---|---|")
    for cp, nf, tt in rows:
        print(f"| {cp} | {nf} | {tt:.2f} |")
    print(f"| {done} + compaction | {stats['files_after']} | {t:.2f} |")

    # ---- ANN index ---------------------------------------------------
    aidx = scratch_ann_index_path()
    build_ivf_index(
        _vecs(spark, range(batch_rows), 0), aidx, n_clusters=16
    )
    qbatch = _vecs(spark, range(50_000, 50_020), 999)
    arows = []
    done = 0
    for cp in checkpoints:
        for a in range(done, cp):
            append_to_ivf_index(
                _vecs(
                    spark,
                    range((a + 1) * batch_rows, (a + 2) * batch_rows),
                    a + 1,
                ),
                aidx,
            )
        done = cp
        t = probe_time(
            lambda: ann_batch_against_index(
                spark, aidx, qbatch, k=5
            ).count()
        )
        arows.append((cp, parquet_file_count(aidx), t))
    astats = compact_ivf_index(spark, aidx)
    t = probe_time(
        lambda: ann_batch_against_index(spark, aidx, qbatch, k=5).count()
    )
    print("\n## IVF ANN index: probe time vs accumulated appends\n")
    print("| appends | data files | probe s (min of 3) |")
    print("|---|---|---|")
    for cp, nf, tt in arows:
        print(f"| {cp} | {nf} | {tt:.2f} |")
    print(
        f"| {done} + compaction | {astats['files_after']} | {t:.2f} |"
    )


if __name__ == "__main__":
    main()
