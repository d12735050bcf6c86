"""Final ES-document assembly (reference ``collection_factory``,
airflow/dags/create_merged.py:859-989).

One nested-struct row per collection: data / curation / metadata / template
namespaces. All member-level metrics are array aggregates over the members
column — no explode, no extra shuffle; the only Python is the namehash UDF
(distinct labels), the avatar/banner CPython-random parity UDFs, and the
log-probability stub.

Exact-median note (A6): the reference uses np.median (interpolating). Over
a sorted array, that is element [n/2] for odd n and the mean of the middle
two for even n — computed here natively on ``array_sort``ed copies.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from collection_templates_spark.functions.scoring import (
    avatar_emoji,
    clamp_min,
    member_sort_key,
    ordered_list,
)
from collection_templates_spark.functions.udfs import (
    banner_image_udf,
    compute_on_distinct,
    log_probability_udf,
    namehash_udf,
)

DEFAULT_DESCRIPTION = (
    "A collection of names auto-generated from Wikipedia and Wikidata using AI"
)
OWNER = "0xcb8f5f88e997527d76401ce3df8c8542b676e149"


def _exact_median(arr: Column) -> Column:
    """np.median semantics over an array column (create_merged.py:966-977)."""
    s = F.array_sort(arr)
    n = F.size(s)
    mid = F.floor(n / 2).cast("int")
    odd = F.element_at(s, mid + 1)  # 0-based n//2 → 1-based
    even = (F.element_at(s, mid) + F.element_at(s, mid + 1)) / 2
    return F.when(n == 0, F.lit(None)).when(n % 2 == 1, odd).otherwise(even)


def _mean(arr: Column) -> Column:
    return F.when(
        F.size(arr) > 0,
        F.aggregate(arr, F.lit(0.0), lambda a, v: a + v) / F.size(arr),
    )


def _status_count(members: Column, status: str) -> Column:
    return F.size(F.filter(members, lambda m: m["status"] == status))


def make_avatar_emoji_udf(emoji_sets, emoji_counts, other_emojis):
    """F7 with CPython-random parity; the emoji tables are tiny and ship to
    executors by closure serialization (an implicit broadcast)."""

    @F.pandas_udf(StringType())
    def avatar_udf(item: pd.Series, type_names: pd.Series) -> pd.Series:
        return pd.Series([
            avatar_emoji(
                it,
                list(names) if names is not None else [],
                emoji_sets,
                emoji_counts,
                other_emojis,
            )
            for it, names in zip(item, type_names)
        ])

    return avatar_udf


def collection_factory(
    df: DataFrame,
    created_ms: float,
    emoji_sets: dict[str, list[str]] | None = None,
    emoji_counts: dict[str, int] | None = None,
    other_emojis: list[str] | None = None,
    log_prob_udf=None,
) -> DataFrame:
    """COLLECTION_SCHEMA rows → final nested documents.

    ``created_ms`` is injected (the reference stamps time.time()*1000 once
    per run, create_merged.py:863) so output is reproducible.
    ``log_prob_udf`` (F9): defaults to the documented stub; pass
    ``udfs.log_probability_udf_for(freqs_bc)`` for real corpus-model
    sequence log-probability (langmodel.py).
    """
    log_prob_udf = log_prob_udf or log_probability_udf
    emoji_sets = emoji_sets or {}
    emoji_counts = emoji_counts or {}
    other_emojis = other_emojis or ["✨"]
    avatar_udf = make_avatar_emoji_udf(emoji_sets, emoji_counts, other_emojis)

    # rank clamp (F6) + member display sort (O2) up front
    df = df.withColumn("rank", F.greatest(F.col("rank"), F.lit(1)))
    df = df.withColumn(
        "members",
        F.transform(
            F.array_sort(
                F.transform(
                    "members",
                    lambda m: F.struct(
                        (-member_sort_key(m["rank"], m["curated"])).alias("negkey"),
                        m["curated"].alias("tie"),
                        m.alias("m"),
                    ),
                )
            ),
            lambda s: s["m"],
        ),
    )

    # namehash over distinct curated labels (Opt-6)
    exploded = compute_on_distinct(
        df.select("item", F.posexplode("members").alias("p", "m")),
        "m.curated",
        lambda v: namehash_udf(F.concat(v, F.lit(".eth"))),
        "h",
    )
    template_names = exploded.groupBy("item").agg(
        ordered_list(
            F.struct(
                F.col("m.curated").alias("normalized_name"),
                F.col("m.tokenized").alias("tokenized_name"),
                F.col("m.interesting_score").alias("system_interesting_score"),
                F.col("m.rank").alias("rank"),
                F.col("m.status").alias("cached_status"),
                F.col("h").alias("namehash"),
            ),
            F.col("p"),
        ).alias("___tnames")
    )
    df = df.join(template_names, "item", "left")

    members = F.col("members")
    ranks = F.transform(members, lambda m: m["rank"].cast("double"))
    scores = F.filter(
        F.transform(members, lambda m: m["interesting_score"]),
        lambda v: v.isNotNull(),
    )
    nonavailable = F.size(
        F.filter(
            members,
            lambda m: m["status"].isin("taken", "on_sale", "recently_released"),
        )
    )
    n_members = F.size(members)
    type_ids = F.transform("types", lambda t: t["id"])
    type_names_col = F.filter(
        F.transform("types", lambda t: t["label"]), lambda v: v.isNotNull()
    )

    out = df.select(
        F.struct(
            F.col("name").alias("collection_name"),
            F.transform(
                members,
                lambda m: F.struct(
                    m["curated"].alias("normalized_name"),
                    F.lit("").alias("avatar_override"),
                    m["tokenized"].alias("tokenized_name"),
                ),
            ).alias("names"),
            F.lit(DEFAULT_DESCRIPTION).alias("collection_description"),
            F.col("keywords").alias("collection_keywords"),
            F.try_element_at(F.coalesce("image", F.array()), F.lit(1)).alias(
                "collection_image"
            ),
            F.lit(True).alias("public"),
            banner_image_udf("item").alias("banner_image"),
            F.lit(None).cast("string").alias("avatar_image"),
            avatar_udf("item", type_names_col).alias("avatar_emoji"),
            F.lit(False).alias("archived"),
        ).alias("data"),
        F.struct(
            F.lit(False).alias("curated"),
            F.lit("").alias("category"),
            F.lit(False).alias("trending"),
            F.lit(False).alias("community_choice"),
        ).alias("curation"),
        F.struct(
            F.col("item").alias("id"),
            F.lit("template").alias("type"),
            F.lit(0).alias("version"),
            F.lit(OWNER).alias("owner"),
            F.lit(created_ms).alias("created"),
            F.lit(created_ms).alias("modified"),
            n_members.cast("long").alias("members_count"),
            log_prob_udf("name").alias("collection_name_log_probability"),
        ).alias("metadata"),
        F.struct(
            F.col("article").alias("collection_wikipedia_link"),
            F.col("item").alias("collection_wikidata_id"),
            F.col("types").alias("collection_types"),
            F.col("rank").alias("collection_rank"),
            F.col("image").alias("collection_images"),
            F.col("page_banner").alias("collection_page_banners"),
            F.col("___tnames").alias("names"),
            F.slice(F.coalesce("___tnames", F.array()), 1, 10).alias("top10_names"),
            F.slice(F.coalesce("___tnames", F.array()), 1, 25).alias("top25_names"),
            clamp_min(_mean(ranks)).alias("members_rank_mean"),
            clamp_min(_exact_median(ranks)).alias("members_rank_median"),
            clamp_min(_mean(scores)).alias("members_system_interesting_score_mean"),
            clamp_min(_exact_median(scores)).alias(
                "members_system_interesting_score_median"
            ),
            F.col("valid_members_count"),
            F.col("invalid_members_count"),
            F.when(
                F.col("valid_members_count") + F.col("invalid_members_count") > 0,
                F.col("valid_members_count")
                / (F.col("valid_members_count") + F.col("invalid_members_count")),
            )
            .otherwise(F.lit(0.0))
            .alias("valid_members_ratio"),
            nonavailable.cast("long").alias("nonavailable_members_count"),
            clamp_min(F.when(n_members > 0, nonavailable / n_members)).alias(
                "nonavailable_members_ratio"
            ),
            F.coalesce("is_merged", F.lit(False)).alias("is_merged"),
            _status_count(members, "available").cast("long").alias("available_count"),
            _status_count(members, "taken").cast("long").alias("taken_count"),
            _status_count(members, "on_sale").cast("long").alias("on_sale_count"),
            _status_count(members, "recently_released")
            .cast("long")
            .alias("recently_released_count"),
            F.size(F.filter(members, lambda m: m["status"].isNull()))
            .cast("long")
            .alias("never_registered_count"),
        ).alias("template"),
    )
    return out
