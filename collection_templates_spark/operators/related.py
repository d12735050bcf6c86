"""Related-collections precompute (SURVEY §2.10; reference
airflow/dags/precompute_related.py:110-156).

The reference POSTs each collection to a name-generator API
(``find_collections_by_collection`` with max_related_collections=10,
max_per_type=2, name_diversity_ratio=0.5) and stores the result into
``name_generator.related_collections``. The batch analogue scores
relatedness engine-side:

- candidates share at least one collection type (explode + self-equi-join
  on type id — no all-pairs);
- per (collection, type) only the top ``max_per_type`` candidates by rank
  survive (the API's type-diversity cap);
- name diversity: candidates whose name-token Jaccard with the source
  exceeds ``1 - name_diversity_ratio`` are dropped (near-duplicate names
  don't make interesting relations);
- final score = shared-type count weighted by log-rank; deterministic
  top-``max_related`` per collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from collection_templates_spark.functions.scoring import ordered_list


def related_collections(
    colls: DataFrame,
    max_related: int = 10,
    max_per_type: int = 2,
    name_diversity_ratio: float = 0.5,
) -> DataFrame:
    """(item, related: array<struct<id, name, score>>) per collection.

    ``colls``: COLLECTION_SCHEMA-shaped rows (item, name, types, rank).
    """
    base = colls.select(
        "item",
        "name",
        F.col("rank").cast("long").alias("rank"),
        F.transform("types", lambda t: t["id"]).alias("type_ids"),
        F.array_distinct(F.split(F.lower(F.coalesce("name", F.lit(""))), " ")).alias(
            "toks"
        ),
    )
    e = base.select(
        F.col("item"), F.col("name"), F.col("rank"), F.col("toks"),
        F.explode("type_ids").alias("tid"),
    )
    # Candidate generation (r7 rewrite, measured 162 s → ~2 s at sf0.1):
    # the per-(src, tid) top-``max_per_type`` by (rank desc, dst asc) is
    # a subset of the per-tid top-(max_per_type + 1) — excluding src
    # removes AT MOST ONE row from the per-tid ranking — so the hot-type
    # self-join (|members|² pairs per type, token arrays riding the
    # shuffle: the MinHash verify-stage lesson) is replaced by one tiny
    # per-tid group-limit window crossed back against the type's
    # members: |members|·(k+1) slim rows, arrays joined on AFTER the
    # cap. Semantics identical; the rn_t window below re-ranks the ≤ k+1
    # survivors per (src, tid).
    w_tid = Window.partitionBy("tid").orderBy(
        F.desc("rank"), F.asc("item")
    )
    top_tid = (
        e.withColumn("rn_g", F.row_number().over(w_tid))
        .filter(F.col("rn_g") <= max_per_type + 1)
        .select(
            "tid",
            F.col("item").alias("dst"),
            F.col("name").alias("dst_name"),
            F.col("rank").alias("dst_rank"),
            F.col("toks").alias("dst_toks"),
        )
    )
    a = e.select(
        F.col("item").alias("src"),
        F.col("toks").alias("src_toks"),
        F.col("tid"),
    )
    pairs = a.join(top_tid, "tid").filter(F.col("src") != F.col("dst"))

    # type-diversity cap: top max_per_type per (src, tid) by rank
    w_type = Window.partitionBy("src", "tid").orderBy(
        F.desc("dst_rank"), F.asc("dst")
    )
    pairs = pairs.withColumn("rn_t", F.row_number().over(w_type)).filter(
        F.col("rn_t") <= max_per_type
    )

    # name diversity: token-Jaccard of names must stay below the cutoff
    common = F.size(F.array_intersect("src_toks", "dst_toks"))
    union = F.size("src_toks") + F.size("dst_toks") - common
    name_sim = F.when(union > 0, common / union).otherwise(F.lit(0.0))
    pairs = pairs.filter(name_sim < F.lit(1.0 - name_diversity_ratio))

    # score: shared types weighted by candidate popularity
    scored = (
        pairs.groupBy("src", "dst", "dst_name", "dst_rank")
        .agg(F.count("*").alias("shared_types"))
        .withColumn(
            "score",
            F.round(
                F.col("shared_types") * F.log2(F.col("dst_rank") + 2), 6
            ),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("score"), F.desc("dst_rank"), F.asc("dst")
    )
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= max_related
    )
    return top.groupBy(F.col("src").alias("item")).agg(
        ordered_list(
            F.struct(
                F.col("dst").alias("id"),
                F.col("dst_name").alias("name"),
                F.col("score").alias("score"),
            ),
            F.col("rn"),
        ).alias("related")
    )


def with_related_collections(docs: DataFrame, related: DataFrame) -> DataFrame:
    """Store the precomputed relations into name_generator.related_collections
    (reference precompute_related.py:152-156)."""
    r = related.select(F.col("item").alias("___item"), F.col("related"))
    return (
        docs.join(r, docs["metadata.id"] == F.col("___item"), "left")
        .withColumn(
            "name_generator",
            F.struct(
                F.coalesce(
                    "related",
                    F.array().cast(
                        "array<struct<id:string,name:string,score:double>>"
                    ),
                ).alias("related_collections")
            ),
        )
        .drop("___item", "related")
    )
