"""Pipeline stress run: synthetic corpus ~1000× the unit fixtures.

Generates a deterministic synthetic knowledge graph (N_COLLECTIONS
categories over a CLASS_DEPTH-deep type ontology with a heavy-hitter class,
N_MEMBERS member pages zipf-assigned to collections), runs the full
pipeline, and prints per-stage wall times + row counts as one JSON line.

Purpose: prove the dataflow holds when the driver-side fixture intuition is
gone — skewed membership (one collection owns ~25% of edges, like the
reference's >10k-member categories), deep subclass chains for the BFS, and
enough distinct labels to exercise the distinct→UDF→join path.

Usage: python tools/stress_pipeline.py [n_members] [n_collections]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_members = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_collections = int(sys.argv[2]) if len(sys.argv) > 2 else 500

    from pyspark.sql import functions as F

    from collection_templates_spark.plans.pipeline import (
        PipelineInputs,
        run_pipeline,
    )
    from collection_templates_spark.session import get_spark

    spark = get_spark("stress")
    t0 = time.time()

    WD = "<http://www.wikidata.org/entity/"
    WP = "<https://en.wikipedia.org/wiki/"
    P31 = "<http://www.wikidata.org/prop/direct/P31>"
    P279 = "<http://www.wikidata.org/prop/direct/P279>"
    P4224 = "<http://www.wikidata.org/prop/direct/P4224>"
    ABOUT = "<http://schema.org/about>"
    LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"

    # ---- type ontology: 50 base classes, chains of depth 5 to a root; the
    # first class is the heavy hitter (zipf assignment below)
    n_classes, depth = 50, 5
    lines = []
    for c in range(n_classes):
        for d in range(depth):
            child = f"C{c}_{d}"
            parent = f"C{c}_{d+1}" if d + 1 < depth else "ROOT"
            lines.append(f"{WD}{child}> {P279} {WD}{parent}> .")

    # ---- collections: category i contains class (i % n_classes) at a random
    # depth, with article + about + label triples
    for i in range(n_collections):
        cls = f"C{i % n_classes}_{i % depth}"
        lines.append(f"{WD}Q{i}> {P4224} {WD}{cls}> .")
        lines.append(f"{WP}Category:Topic_{i}> {ABOUT} {WD}Q{i}> .")
        lines.append(f'{WD}Q{i}> {LABEL} "Topic {i}"@en .')

    # ---- members: page m is instance of a class; ~80% compatible with its
    # collection (valid), 20% a mismatched class (invalid)
    member_lines = []
    for m in range(n_members):
        # zipf-ish: 25% of members land in collection 0 (the hot key)
        coll = 0 if m % 4 == 0 else (m * 2654435761) % n_collections
        ok = (m % 5) != 0
        cls = f"C{coll % n_classes}_0" if ok else f"C{(coll + 7) % n_classes}_0"
        member_lines.append(f"{WP}Page_{m}> {ABOUT} {WD}M{m}> .")
        member_lines.append(f"{WD}M{m}> {P31} {WD}{cls}> .")
        member_lines.append((m, coll))

    nt = [x for x in lines] + [x for x in member_lines if isinstance(x, str)]
    edges = [(m, f"Topic_{c}") for m, c in
             (x for x in member_lines if isinstance(x, tuple))]

    workdir = tempfile.mkdtemp(prefix="stress_")
    inputs = PipelineInputs(
        nt_lines=spark.createDataFrame([(x,) for x in nt], ["value"]).repartition(32),
        categorylinks=spark.createDataFrame(
            edges, "cl_from bigint, cl_to string"
        ).repartition(32),
        pagelinks=spark.createDataFrame([], "pl_from bigint, pl_title string"),
        mapping=spark.createDataFrame(
            [(f"Page {m}", m, f"M{m}") for m in range(n_members)]
            + [(f"Category:Topic {i}", n_members + i, f"Q{i}") for i in range(n_collections)],
            "title string, wikipedia_id bigint, qid string",
        ),
        qrank=spark.createDataFrame(
            [(f"M{m}", (m * 37) % 100000) for m in range(0, n_members, 3)],
            "id string, rank bigint",
        ),
        domains=spark.createDataFrame(
            [(f"page{m}", "taken") for m in range(0, n_members, 7)],
            "name string, status string",
        ),
        created_ms=1.0,
    )
    gen_s = round(time.time() - t0, 1)

    t1 = time.time()
    result = run_pipeline(spark, inputs, workdir=workdir)
    docs = result["merged_final"]
    n_docs = docs.count()
    run_s = round(time.time() - t1, 1)

    stats = docs.agg(
        F.sum("metadata.members_count").alias("total_members"),
        F.max("metadata.members_count").alias("max_members"),
        F.sum("template.valid_members_count").alias("valid"),
        F.sum("template.invalid_members_count").alias("invalid"),
    ).collect()[0]

    print(
        json.dumps(
            {
                "n_members_in": n_members,
                "n_collections_in": n_collections,
                "gen_sec": gen_s,
                "pipeline_sec": run_s,
                "stage_seconds": result.get("___stage_seconds", {}),
                "final_collections": n_docs,
                "total_members_out": stats["total_members"],
                "max_collection_members": stats["max_members"],
                "valid": stats["valid"],
                "invalid": stats["invalid"],
            }
        )
    )


if __name__ == "__main__":
    main()
