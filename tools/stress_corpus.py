"""Corpus-operator stress run: the LLM-pipeline dedup/containment suite at
10-100× the driver fixtures, with planted ground truth.

Generates a deterministic synthetic text corpus (Zipf word draws over a
5k-word vocabulary) with three planted structures a production curation
run must catch:

- DUP CLUSTERS: ~5% of docs get 1-3 near-identical copies (one word
  mutated) — exact/MinHash/SimHash territory;
- CONTAINED QUOTES: ~2% of docs embed a full shorter doc verbatim inside
  unrelated text — winnowing-containment territory (Jaccard-diluted);
- HOT BOILERPLATE: one 12-word banner prepended to 20% of all docs — the
  hot-bucket/skew path every inverted-index scheme must survive.

Runs exact dedup, MinHash-LSH, SimHash, winnowing containment and n-gram
decontamination against a 1%-of-corpus "benchmark", prints per-operator
wall time + row counts + planted-structure recall as ONE json line.

Recall here is the at-scale complement of the unit suite
(tests/test_dedup_random.py verifies exactness on 35-doc corpora; this
proves the same operators keep their recall AND their runtime shape when
buckets get hot and candidates get dense).

Usage: python tools/stress_corpus.py [n_docs] [seed]
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_corpus(n_docs: int, seed: int):
    """(doc_id, text) rows + ground-truth structures, pure CPython rng."""
    rnd = random.Random(seed)
    vocab = [f"w{i}" for i in range(5000)]
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(vocab))]
    boiler = " ".join(f"banner{i}" for i in range(12))

    rows = []
    dup_pairs = set()
    contain_pairs = set()
    base_texts = {}
    doc_id = 0
    while doc_id < n_docs:
        n_words = rnd.randint(40, 200)
        words = rnd.choices(vocab, weights=weights, k=n_words)
        text = " ".join(words)
        if rnd.random() < 0.2:
            text = boiler + " " + text
        rows.append((doc_id, text))
        base_texts[doc_id] = text
        base = doc_id
        doc_id += 1
        r = rnd.random()
        if r < 0.05 and doc_id < n_docs:
            # near-dup cluster: 1-3 copies with one word mutated
            for _ in range(rnd.randint(1, 3)):
                if doc_id >= n_docs:
                    break
                toks = text.split(" ")
                toks[rnd.randrange(len(toks))] = rnd.choice(vocab)
                rows.append((doc_id, " ".join(toks)))
                dup_pairs.add((base, doc_id))
                doc_id += 1
        elif r < 0.07 and doc_id < n_docs:
            # containment: this doc pasted verbatim inside unrelated text
            pre = " ".join(rnd.choices(vocab, weights=weights, k=100))
            post = " ".join(rnd.choices(vocab, weights=weights, k=100))
            rows.append((doc_id, f"{pre} {text} {post}"))
            contain_pairs.add((base, doc_id))
            doc_id += 1
    return rows, dup_pairs, contain_pairs


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7

    from pyspark.sql import functions as F

    from collection_templates_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from collection_templates_spark.operators.text_analysis import (
        winnowing_containment_pairs,
    )
    from collection_templates_spark.operators.training_prep import (
        ngram_contamination,
    )
    from collection_templates_spark.session import get_spark

    spark = get_spark("stress-corpus")
    t0 = time.time()
    rows, dup_pairs, contain_pairs = build_corpus(n_docs, seed)
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(
        32
    )
    docs.persist().count()  # input pinned so operator timings are pure
    gen_s = round(time.time() - t0, 1)

    out: dict = {
        "n_docs": n_docs,
        "gen_s": gen_s,
        "planted": {
            "dup_pairs": len(dup_pairs),
            "contain_pairs": len(contain_pairs),
        },
        "ops": {},
    }

    def run(name, fn):
        t = time.time()
        result = fn()
        out["ops"][name] = {
            "wall_s": round(time.time() - t, 1),
            **result,
        }

    def r_exact():
        d = exact_dedup(docs)
        return {"rows": d.count()}

    def r_minhash():
        got = {
            (r["doc1"], r["doc2"])
            for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        rec = sum(1 for p in dup_pairs if p in got) / max(len(dup_pairs), 1)
        return {"pairs": len(got), "planted_recall": round(rec, 4)}

    def r_simhash():
        got = {
            (r["doc1"], r["doc2"])
            for r in simhash_pairs(docs).collect()
        }
        rec = sum(1 for p in dup_pairs if p in got) / max(len(dup_pairs), 1)
        return {"pairs": len(got), "planted_recall": round(rec, 4)}

    def r_containment():
        got = {
            (min(r["doc1"], r["doc2"]), max(r["doc1"], r["doc2"]))
            for r in winnowing_containment_pairs(
                docs, min_shared=3
            ).collect()
            if r["containment"] >= 0.5
        }
        rec = sum(1 for p in contain_pairs if p in got) / max(
            len(contain_pairs), 1
        )
        return {"pairs": len(got), "planted_contain_recall": round(rec, 4)}

    def r_decontaminate():
        bench = docs.filter(F.col("doc_id") % 100 == 0)
        corpus = docs.filter(F.col("doc_id") % 100 != 0)
        d = ngram_contamination(corpus, bench)
        flagged = d.filter(F.col("contamination") > 0.8).count()
        return {"rows": d.count(), "flagged": flagged}

    run("exact_dedup", r_exact)
    run("minhash_lsh", r_minhash)
    run("simhash", r_simhash)
    run("winnowing_containment", r_containment)
    run("decontaminate", r_decontaminate)

    out["total_s"] = round(time.time() - t0, 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
