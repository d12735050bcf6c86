"""Randomized multi-batch stress for the streaming delta pipeline
(streaming/delta_stream.py): N document batches with planted
history-dups, batch-internal-fresh docs and CROSS-BATCH dups land as
files; the stream drains them per-file, and the accepted set + final
index state must equal the sequential batch replay — the
tests/test_stream_delta.py check scaled to arbitrary batch counts and
randomized content.

Usage: python tools/stress_stream_delta.py [n_batches] [docs_per_batch]
                                           [seed] [--watermark]
With --watermark, every doc carries a randomized event time (some
deliberately out-of-order past the delay) and the stream runs in
watermark mode: late rows must land in the late sink, on-time rows
probe/accept, and BOTH must equal a sequential batch replay applying
the same cutoff rule.
Exit 0 on equality, 1 on divergence.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu"
).split()


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(20))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--watermark"]
    watermark = "--watermark" in sys.argv[1:]
    n_batches = int(args[0]) if len(args) > 0 else 5
    per_batch = int(args[1]) if len(args) > 1 else 40
    seed = int(args[2]) if len(args) > 2 else 7
    rng = random.Random(seed)
    if watermark:
        return _main_watermark(n_batches, per_batch, rng)

    from collection_templates_spark.operators.incremental_dedup import (
        append_to_index,
        build_minhash_index,
        dedup_batch_against_index,
    )
    from collection_templates_spark.session import get_spark
    from collection_templates_spark.streaming.delta_stream import (
        stream_delta_pipeline,
    )

    spark = get_spark("stress_stream_delta")
    base = "/tmp/stress_stream_delta"
    shutil.rmtree(base, ignore_errors=True)

    history = [(i, _text(rng)) for i in range(100)]
    next_id = 1000
    batches = []
    seen_texts = [t for _, t in history]
    for _ in range(n_batches):
        batch = []
        for _ in range(per_batch):
            roll = rng.random()
            if roll < 0.25 and seen_texts:
                txt = rng.choice(seen_texts)  # dup of history OR a
                # previously-accepted doc (cross-batch)
            else:
                txt = _text(rng)
            batch.append((next_id, txt))
            next_id += 1
        batches.append(batch)
        seen_texts.extend(t for _, t in batch)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # streaming side
    build_minhash_index(docs(history), f"{base}/idx_stream")
    for rows in batches:
        docs(rows).coalesce(1).write.mode("append").parquet(f"{base}/drop")
        time.sleep(1.1)
    q = stream_delta_pipeline(
        spark, f"{base}/drop", f"{base}/idx_stream",
        f"{base}/accepted", f"{base}/ckpt", docs(history).schema,
    )
    q.awaitTermination(600)
    got = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{base}/accepted").collect()
    )

    # batch replay
    build_minhash_index(docs(history), f"{base}/idx_batch")
    expected = []
    for rows in batches:
        pairs = dedup_batch_against_index(
            spark, f"{base}/idx_batch", docs(rows)
        )
        matched = {r.doc_new for r in pairs.collect()}
        kept = [r for r in rows if r[0] not in matched]
        expected.extend(k for k, _ in kept)
        if kept:
            append_to_index(docs(kept), f"{base}/idx_batch")
    expected.sort()

    ok = got == expected
    print(
        f"stream accepted {len(got)} / batch replay {len(expected)} "
        f"over {n_batches} batches x {per_batch} docs (seed {seed}): "
        f"{'EQUAL' if ok else 'DIVERGED'}"
    )
    if not ok:
        only_s = set(got) - set(expected)
        only_b = set(expected) - set(got)
        print(f"stream-only: {sorted(only_s)[:10]}")
        print(f"batch-only: {sorted(only_b)[:10]}")
    return 0 if ok else 1


def _main_watermark(n_batches: int, per_batch: int, rng) -> int:
    import shutil
    import time

    from collection_templates_spark.operators.incremental_dedup import (
        append_to_index,
        build_minhash_index,
        dedup_batch_against_index,
    )
    from collection_templates_spark.session import get_spark
    from collection_templates_spark.streaming.delta_stream import (
        stream_delta_pipeline,
    )

    spark = get_spark("stress_stream_delta_wm")
    base = "/tmp/stress_stream_delta_wm"
    shutil.rmtree(base, ignore_errors=True)
    S = 1_000_000
    delay = 120 * S

    history = [(i, _text(rng)) for i in range(100)]
    next_id = 1000
    batches = []
    seen_texts = [t for _, t in history]
    for b in range(n_batches):
        now = (b + 1) * 600 * S  # batch "clock": 10 min apart
        batch = []
        for _ in range(per_batch):
            roll = rng.random()
            txt = (
                rng.choice(seen_texts)
                if roll < 0.25 and seen_texts
                else _text(rng)
            )
            # ~20% of rows arrive wildly out of order (old event times
            # that fall below the watermark once the clock has advanced)
            ts = (
                rng.randrange(0, max(now - delay - 60 * S, 1))
                if rng.random() < 0.2 and b > 0
                else now + rng.randrange(0, 60 * S)
            )
            batch.append((next_id, txt, ts))
            next_id += 1
        batches.append(batch)
        seen_texts.extend(t for _, t, _ in batch)

    def docs2(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def docs3(rows):
        return spark.createDataFrame(rows, "doc_id long, text string, ts long")

    build_minhash_index(docs2(history), f"{base}/idx_stream")
    for rows in batches:
        docs3(rows).coalesce(1).write.mode("append").parquet(f"{base}/drop")
        time.sleep(1.1)
    q = stream_delta_pipeline(
        spark, f"{base}/drop", f"{base}/idx_stream",
        f"{base}/accepted", f"{base}/ckpt", docs3(batches[0]).schema,
        ts_col="ts", delay_us=delay, late_dir=f"{base}/late",
    )
    q.awaitTermination(600)
    got_acc = sorted(
        r.doc_id for r in spark.read.parquet(f"{base}/accepted").collect()
    )
    import os

    got_late = (
        sorted(
            r.doc_id for r in spark.read.parquet(f"{base}/late").collect()
        )
        if os.path.isdir(f"{base}/late")
        else []
    )

    # sequential replay with the same cutoff rule
    build_minhash_index(docs2(history), f"{base}/idx_batch")
    wm_max, exp_acc, exp_late = None, [], []
    for rows in batches:
        batch_max = max(ts for _, _, ts in rows)
        if wm_max is not None:
            cutoff = wm_max - delay
            exp_late.extend(d for d, _, ts in rows if ts < cutoff)
            rows = [r for r in rows if r[2] >= cutoff]
        wm_max = batch_max if wm_max is None else max(wm_max, batch_max)
        if not rows:
            continue
        pairs = dedup_batch_against_index(
            spark, f"{base}/idx_batch", docs2([(d, t) for d, t, _ in rows])
        )
        matched = {r.doc_new for r in pairs.collect()}
        kept = [(d, t) for d, t, _ in rows if d not in matched]
        exp_acc.extend(d for d, _ in kept)
        if kept:
            append_to_index(docs2(kept), f"{base}/idx_batch")
    exp_acc.sort()
    exp_late.sort()
    ok = got_acc == exp_acc and got_late == exp_late
    print(
        f"[wm] stream accepted {len(got_acc)} late {len(got_late)} / "
        f"replay accepted {len(exp_acc)} late {len(exp_late)}: "
        f"{'EQUAL' if ok else 'DIVERGED'}"
    )
    if not ok:
        print(f"acc diff: {sorted(set(got_acc) ^ set(exp_acc))[:10]}")
        print(f"late diff: {sorted(set(got_late) ^ set(exp_late))[:10]}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
