"""Collections extraction: categories / "List of" articles and their members.

Reference: airflow/dags/create_collections.py — `extract_collections` :40-73
(db3 ⋈ id→title, J1), `map_to_titles` :352-393 (id→title member mapping, J4,
and the P6 member filters), `reformat_csv_to_json` (grouping, A2) +
`write_item` :502-542 (J5 join back to collection metadata).

Every RocksDB point-lookup loop becomes a join; the external sort + adjacent
scan becomes a groupBy (sortedness requirement disappears, SURVEY §2.4 A2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_collections(
    db3: DataFrame, id_title: DataFrame, mode: str
) -> DataFrame:
    """Collections of a mode with their type lists and article titles, each
    row tagged with its ``mode`` so the modes can share one frame.

    J1: inner join — collections whose qid has no en-wiki article drop out
    (the reference's KeyError skip, create_collections.py:52-72).

    ``id_title`` is (qid → title); db3 is small (18 MB reference scale) but
    id_title is large, so the join broadcasts the *filtered db3 side*.
    """
    if mode == "category":
        pred, keep = "category_contains", F.col("article").startswith("Category:")
    elif mode == "list":
        pred, keep = "is_a_list_of", ~F.col("article").startswith("Lists_of:")
    else:
        raise ValueError(f"invalid mode - {mode}")
    side = db3.filter(F.size(F.col(pred)) > 0).select(
        F.col("id").alias("item"), F.col(pred).alias("type")
    )
    return (
        F.broadcast(side)
        .join(id_title.select(F.col("qid"), F.col("title").alias("article")),
              side.item == F.col("qid"), "inner")
        .drop("qid")
        .filter(keep)
        .select(F.lit(mode).alias("mode"), "item", "type", "article")
    )


def member_edges_categories(
    categorylinks: DataFrame, id_title_pageid: DataFrame
) -> DataFrame:
    """categorylinks (member page id, category title) → (collection_title,
    member_title): member page ids resolved via the wikimapper table (J4,
    left join then drop misses), `Category:` members dropped (P6)."""
    m = id_title_pageid.select(
        F.col("wikipedia_id"), F.col("title").alias("member_title")
    )
    return (
        categorylinks.join(m, categorylinks.cl_from == m.wikipedia_id, "left")
        .filter(
            F.col("member_title").isNotNull()
            & ~F.col("member_title").startswith("Category:")
        )
        .select(
            F.regexp_replace("cl_to", "_", " ").alias("collection_title"),
            "member_title",
        )
    )


def member_edges_lists(
    pagelinks: DataFrame, id_title_pageid: DataFrame
) -> DataFrame:
    """pagelinks (list page id, target title) → (collection_title,
    member_title): the LIST side resolves by page id; targets keep their
    dump form with underscores → spaces."""
    m = id_title_pageid.select(
        F.col("wikipedia_id"), F.col("title").alias("collection_title")
    )
    return (
        pagelinks.join(m, pagelinks.pl_from == m.wikipedia_id, "left")
        .filter(F.col("collection_title").isNotNull())
        .select(
            "collection_title",
            F.regexp_replace("pl_title", "_", " ").alias("member_title"),
        )
        .filter(~F.col("member_title").startswith("Category:"))
    )


def normalize_article_key(article: F.Column) -> F.Column:
    """The J5 join key: strip `Category:` prefix, underscores → spaces
    (reference create_collections.py:518-520, :531-534; URL-unquoting of the
    few %-escaped titles happens in the enrichment UDF stage)."""
    return F.regexp_replace(
        F.regexp_replace(article, "^Category:", ""), "_", " "
    )


def group_members(
    edges: DataFrame, collections: DataFrame
) -> DataFrame:
    """A2 + J5: group member edges per collection title and join collection
    metadata. Members keep first-seen order via a deterministic sort (the
    reference's sorted-file order); underscores → spaces applied to members
    (create_collections.py:508). The collections' ``mode`` tag is kept."""
    grouped = (
        edges.groupBy(normalize_article_key(F.col("collection_title")).alias("key"))
        .agg(F.array_sort(F.collect_list("member_title")).alias("members"))
    )
    meta = collections.withColumn("key", normalize_article_key(F.col("article")))
    return (
        meta.join(grouped, "key", "inner")
        .select("mode", "item", "type", "article", "members")
    )
