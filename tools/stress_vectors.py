"""Vector-search stress run: the ANN family at 100-1000× the driver
fixtures, with structured ground truth.

Generates N unit-ish vectors in C Gaussian clusters (structure ANN can
exploit — the driver's 500 near-random vectors are the adversarial case),
then times brute-force cosine, sign-LSH, IVF, PQ-ADC and composed IVF-PQ
for the same 16 queries and reports recall@10 of every approximate path
against the brute-force answer. Prints ONE json line.

What this is evidence FOR: the cost asymmetry the operators claim —
brute force scales with N per query while IVF/IVF-PQ scale with
n_probe/n_clusters of N — and that the recall penalty of each
approximation is measured, not asserted.

Usage: python tools/stress_vectors.py [n_vectors] [dim] [seed]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_clusters_gen = 32
    n_queries = 16
    k = 10

    from pyspark.sql import functions as F

    from collection_templates_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivfpq_cosine_topk,
        lsh_cosine_topk,
        pq_cosine_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from collection_templates_spark.session import get_spark

    spark = get_spark("stress-vectors")
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (n_clusters_gen, dim))
    assign = rng.integers(0, n_clusters_gen, n)
    vecs = centers[assign] + rng.normal(0, 0.3, (n, dim))
    rows = [(int(i), vecs[i].tolist()) for i in range(n)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(32)
    emb.persist().count()
    q = emb.filter(F.col("vec_id") < n_queries)

    out: dict = {"n_vectors": n, "dim": dim, "ops": {}}

    def run(name, fn):
        t0 = time.time()
        res = fn()
        got = {}
        for r in res:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        out["ops"][name] = {"wall_s": round(time.time() - t0, 1)}
        return got

    brute = run("brute", lambda: cosine_topk(emb, q, k=k).collect())

    def recall(approx):
        hits = sum(
            len(brute[qid] & approx.get(qid, set())) for qid in brute
        )
        return round(hits / (len(brute) * k), 4)

    # trainers timed separately — they amortize over every later query
    t0 = time.time()
    cents = train_ivf_centroids(emb, n_clusters=64)
    out["ops"]["ivf_train"] = {"wall_s": round(time.time() - t0, 1)}
    t0 = time.time()
    cbs = train_pq_codebooks(emb, m=16, ks=64, iterations=2)
    out["ops"]["pq_train"] = {"wall_s": round(time.time() - t0, 1)}

    got = run(
        "lsh",
        lambda: lsh_cosine_topk(emb, q, k=k, n_tables=32).collect(),
    )
    out["ops"]["lsh"]["recall"] = recall(got)
    got = run(
        "ivf",
        lambda: ivf_cosine_topk(
            emb, q, k=k, n_clusters=64, n_probe=8, centroids=cents
        ).collect(),
    )
    out["ops"]["ivf"]["recall"] = recall(got)
    got = run(
        "pq",
        lambda: pq_cosine_topk(emb, q, k=k, m=16, ks=64, codebooks=cbs).collect(),
    )
    out["ops"]["pq"]["recall"] = recall(got)
    got = run(
        "ivfpq",
        lambda: ivfpq_cosine_topk(
            emb, q, k=k, n_clusters=64, n_probe=8, m=16, ks=64,
            centroids=cents, codebooks=cbs,
        ).collect(),
    )
    out["ops"]["ivfpq"]["recall"] = recall(got)
    got = run(
        "ivfpq_r500",
        lambda: ivfpq_cosine_topk(
            emb, q, k=k, n_clusters=64, n_probe=8, m=16, ks=64,
            rerank=500, centroids=cents, codebooks=cbs,
        ).collect(),
    )
    out["ops"]["ivfpq_r500"]["recall"] = recall(got)

    from collection_templates_spark.operators.similarity import (
        residual_ivfpq_topk,
        train_residual_pq,
    )

    t0 = time.time()
    _, res_cbs = train_residual_pq(
        emb, n_clusters=64, m=16, ks=64, iterations=2, centroids=cents
    )
    out["ops"]["respq_train"] = {"wall_s": round(time.time() - t0, 1)}
    got = run(
        "residual_ivfpq",
        lambda: residual_ivfpq_topk(
            emb, q, k=k, n_clusters=64, n_probe=8, m=16, ks=64,
            centroids=cents, codebooks=res_cbs,
        ).collect(),
    )
    out["ops"]["residual_ivfpq"]["recall"] = recall(got)

    # SemDeDup at scale: corpus-derived k (clusters_for_corpus) keeps
    # cluster populations near the paper's ~1000 regime; report wall,
    # drop rate, and that the quadratic in-cluster term stayed bounded
    from collection_templates_spark.operators.similarity import (
        clusters_for_corpus,
        semantic_dedup,
        train_ivf_centroids as _tic,
    )

    k_sem = clusters_for_corpus(n)
    t0 = time.time()
    sem_cents = _tic(emb, n_clusters=k_sem)
    t_train = round(time.time() - t0, 1)
    t0 = time.time()
    # τ=0.95: the generator's within-cluster cosines centre ≈0.91, so
    # this keeps the discriminating regime visible (τ=0.9 would
    # legitimately collapse the whole synthetic corpus to its clusters)
    sem = semantic_dedup(
        emb, threshold=0.95, n_clusters=k_sem, centroids=sem_cents
    )
    dropped = sem.filter(~F.col("kept")).count()
    out["ops"]["semantic_dedup"] = {
        "wall_s": round(time.time() - t0, 1),
        "train_s": t_train,
        "k": k_sem,
        "dropped": dropped,
        "drop_rate": round(dropped / n, 4),
    }

    print(json.dumps(out))


if __name__ == "__main__":
    main()
