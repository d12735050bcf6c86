"""Triples → entity ("db") tables: the six RocksDB stores as DataFrames.

Reference: airflow/dags/create_kv.py:17-35 (store layout), :108-125
(adjacent-subject accumulation). The Spark version is a single groupBy per
store — subject adjacency in the input becomes irrelevant (the fragility the
reference's `entity_generator` has with split subjects disappears), and the
reference's "last value wins" for single-valued predicates is reproduced
deterministically via ``max_by(object, pos)``.

Scale: one wide aggregation over ~400M triples, shuffled once on subject;
each store is then a cheap projection of the grouped frame. db3/db4 are tiny
(18 MB / 2.7 MB in the reference run) → broadcast-join candidates downstream;
db5 is the big one (7.3 GB) → sort-merge joins on qid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from collection_templates_spark.functions.scoring import ordered_list
from collection_templates_spark.sources.ntriples import PREDICATES_ONE

# store → predicate subset (reference create_kv.py:27-35)
DB_PREDICATES: dict[str, tuple[str, ...]] = {
    "db2": ("instance_of", "subclass_of"),  # id_type_db
    "db3": ("is_a_list_of", "category_contains"),  # members_type_db
    "db4": ("list_related_to_category", "category_related_to_list"),
    "db5": ("name", "label", "description", "image", "page_banner"),
    "db6": ("same_as",),
}


def _single(pred: str) -> F.Column:
    """Last-occurrence-wins single value (create_kv.py:119-120)."""
    return F.max_by(
        F.when(F.col("predicate") == pred, F.col("object")),
        F.when(F.col("predicate") == pred, F.col("pos")),
    ).alias(pred)


def _multi(pred: str) -> F.Column:
    """Input-order multi-value accumulation (create_kv.py:121-125)."""
    return ordered_list(
        F.when(F.col("predicate") == pred, F.col("object")), F.col("pos")
    ).alias(pred)


def build_entity_table(triples: DataFrame, predicates: tuple[str, ...]) -> DataFrame:
    """Group triples into one row per subject with one column per predicate."""
    aggs = [
        _single(p) if p in PREDICATES_ONE else _multi(p) for p in predicates
    ]
    out = (
        triples.filter(F.col("predicate").isin(*predicates))
        .groupBy(F.col("subject").alias("id"))
        .agg(*aggs)
    )
    # drop rows where every store predicate is absent/empty (the reference
    # only writes keys that have at least one of the store's predicates)
    nonempty = None
    for p in predicates:
        c = (
            F.col(p).isNotNull()
            if p in PREDICATES_ONE
            else F.size(F.col(p)) > 0
        )
        nonempty = c if nonempty is None else (nonempty | c)
    return out.filter(nonempty)


def build_all_stores(triples: DataFrame) -> dict[str, DataFrame]:
    return {
        name: build_entity_table(triples, preds)
        for name, preds in DB_PREDICATES.items()
    }


def title_qid_from_triples(triples: DataFrame) -> DataFrame:
    """db1 equivalent from `about` triples: en-wiki title → wikidata id.

    The reference builds db1 from the wikimapper sqlite instead
    (create_kv.py:165-180); ``title_qid_from_mapping`` mirrors that. Both
    yield `(title, qid)`; underscores are the on-disk title form.
    """
    return (
        triples.filter(F.col("predicate") == "about")
        .groupBy(F.col("subject").alias("title"))
        .agg(F.max_by("object", "pos").alias("qid"))
    )


def title_qid_from_mapping(mapping: DataFrame) -> DataFrame:
    """db1/db1_rev from the wikimapper `mapping` table
    (reference create_kv.py:165-180): primary, non-redirect rows only;
    underscores → spaces as the reference does on insert."""
    return (
        mapping.filter(
            (F.col("primary_mapping") == 1)
            & (F.col("redirect") == 0)
            & F.col("wikidata_id").isNotNull()
        )
        .select(
            F.regexp_replace("wikipedia_title", "_", " ").alias("title"),
            F.col("wikipedia_id"),
            F.col("wikidata_id").alias("qid"),
        )
    )
