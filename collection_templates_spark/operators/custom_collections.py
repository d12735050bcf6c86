"""Custom (user-drop) collections pipeline (SURVEY §3.2; reference
airflow/dags/load_custom_collections.py:100-396).

JSONL drops → normalized member lists → sorted per the `sort_labels`
command (O5) → final documents reusing the factory field semantics →
create/update ops against the current snapshot (J15).

Tokenization (F11): the reference splits emoji runs (emoji lib) then
alnum runs, wordninja-splitting simple tokens. Neither library ships here:
the fallback splits alnum/digit runs with the same regexes and keeps
emoji/complex runs whole — documented deviation; the real libraries are
used when importable.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from collection_templates_spark.functions.scoring import ordered_list

try:  # pragma: no cover
    import wordninja  # type: ignore

    def _wordsplit(tok: str) -> list[str]:
        return wordninja.split(tok)
except ImportError:  # pragma: no cover

    def _wordsplit(tok: str) -> list[str]:
        return [tok]


_SPLIT_RE = re.compile(r"([a-zA-Z0-9']+|\d+)", re.UNICODE)
_SIMPLE_RE = re.compile(r"^[a-zA-Z0-9']+$")

DEFAULT_COLLECTION_RANK = 1_000_000
DEFAULT_MEMBER_RANK = 10_000_000
DEFAULT_DESCRIPTION = "Manually created custom collection"


def tokenize_name(name: str, wordsplit=None) -> list[str]:
    """F11: alnum/digit-run split, ``wordsplit`` applied to simple tokens
    (reference load_custom_collections.py:122-159). ``wordsplit`` defaults
    to wordninja when importable, else identity; pass
    ``UnigramModel(...).split`` for the corpus-model DP splitter
    (functions/langmodel.py)."""
    split = wordsplit or _wordsplit
    tokens: list[str] = []
    for token2 in _SPLIT_RE.split(name):
        if not token2:
            continue
        if _SIMPLE_RE.match(token2):
            tokens.extend(split(token2))
        else:
            tokens.append(token2)
    return [t for t in tokens if t.strip()]


@F.pandas_udf(ArrayType(StringType()))
def tokenize_name_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: tokenize_name(v) if v is not None else None)


def tokenize_name_udf_for(freqs_bc):
    """Corpus-model tokenizer (F11 real path): same run-splitting, simple
    tokens go through the wordninja-DP splitter of a broadcast
    ``UnigramModel``."""

    @F.pandas_udf(ArrayType(StringType()))
    def _udf(s: pd.Series) -> pd.Series:
        from collection_templates_spark.functions.udfs import _model_for

        m = _model_for(freqs_bc)
        return s.map(
            lambda v: tokenize_name(v, wordsplit=m.split) if v is not None else None
        )

    return _udf


def prepare_members(raw: DataFrame, tokenize_udf=None) -> DataFrame:
    """Labels → normalized+tokenized members (:201-208 semantics):
    rows missing both normalized and tokenized are skipped; a missing
    normalized is the tokens joined; missing tokens are derived
    (``tokenize_udf`` defaults to the module tokenizer; see
    ``tokenize_name_udf_for`` for the corpus-model variant)."""
    m = raw.select(
        F.col("data.collection_id").alias("collection_id"),
        F.posexplode_outer("data.labels").alias("pos", "l"),
    ).filter(
        F.col("l").isNotNull()
        & (
            F.col("l.normalized_label").isNotNull()
            | F.col("l.tokenized_label").isNotNull()
        )
    )
    m = m.withColumn(
        "normalized",
        F.coalesce(
            "l.normalized_label", F.concat_ws("", F.col("l.tokenized_label"))
        ),
    )
    return m.withColumn(
        "tokenized",
        F.coalesce(
            "l.tokenized_label", (tokenize_udf or tokenize_name_udf)("normalized")
        ),
    ).select("collection_id", "pos", "normalized", "tokenized")


def sort_members(members: DataFrame, commands: DataFrame) -> DataFrame:
    """O5: per-collection sort mode from the `sort_labels` command
    (:234-243). Modes: none (input order) | interesting_score | shortest |
    longest | a-z | z-a. Ties keep input order (Python sort is stable; the
    window adds `pos` as the final key)."""
    c = commands.select(
        "collection_id", F.coalesce("sort_labels", F.lit("none")).alias("mode")
    )
    m = members.join(c, "collection_id", "left").fillna({"mode": "none"})
    key_len = F.size("tokenized")
    order = {
        "interesting_score": [F.desc("interesting_score"), F.asc("pos")],
        "shortest": [F.asc(key_len), F.asc("pos")],
        "longest": [F.desc(key_len), F.asc("pos")],
        "a-z": [F.asc("normalized"), F.asc("pos")],
        "z-a": [F.desc("normalized"), F.asc("pos")],
        "none": [F.asc("pos")],
    }
    parts = []
    for mode, keys in order.items():
        w = Window.partitionBy("collection_id").orderBy(*keys)
        parts.append(
            m.filter(F.col("mode") == mode).withColumn(
                "sorted_pos", F.row_number().over(w)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def prepare_custom_collections(
    raw: DataFrame,
    domains: DataFrame,
    created_ms: float,
    score_udf=None,
    tokenize_udf=None,
) -> DataFrame:
    """Raw custom-collection JSON rows → final document rows (subset of the
    factory schema: data/curation/metadata/template namespaces).

    ``score_udf``/``tokenize_udf``: corpus-model variants of F10/F11
    (udfs.interesting_score_udf_for / tokenize_name_udf_for); defaults are
    the documented stub score and the wordninja-or-identity tokenizer."""
    from collection_templates_spark.functions.udfs import (
        interesting_score_udf,
        namehash_udf,
    )
    from collection_templates_spark.operators.factory import banner_udf

    members = prepare_members(raw, tokenize_udf=tokenize_udf)
    # per-member enrichment: score (distinct), status, namehash (distinct)
    distinct = members.select(F.col("normalized").alias("v")).distinct()
    scored = distinct.select(
        "v",
        (score_udf or interesting_score_udf)("v").alias("score"),
        namehash_udf(F.concat("v", F.lit(".eth"))).alias("nh"),
    )
    members = members.join(scored, members.normalized == scored.v, "left").drop("v")
    d = domains.select(F.col("name").alias("___dn"), F.col("status"))
    members = members.join(d, members.normalized == F.col("___dn"), "left").drop(
        "___dn"
    )
    members = members.withColumnRenamed("score", "interesting_score")

    commands = raw.select(
        F.col("data.collection_id").alias("collection_id"),
        F.col("commands.sort_labels").alias("sort_labels"),
        F.coalesce("commands.member_rank", F.lit(DEFAULT_MEMBER_RANK)).alias(
            "member_rank"
        ),
        F.coalesce("commands.collection_rank", F.lit(DEFAULT_COLLECTION_RANK)).alias(
            "collection_rank"
        ),
    )
    members = sort_members(members, commands)

    grouped = members.groupBy("collection_id").agg(
        ordered_list(
            F.struct(
                F.col("normalized").alias("normalized_name"),
                F.col("tokenized").alias("tokenized_name"),
                F.col("interesting_score").alias("system_interesting_score"),
                F.col("status").alias("cached_status"),
                F.col("nh").alias("namehash"),
            ),
            F.col("sorted_pos"),
        ).alias("tnames")
    )

    head = raw.select(
        F.col("data.collection_id").alias("collection_id"),
        F.col("data.collection_name").alias("collection_name"),
        F.coalesce("data.collection_description", F.lit(DEFAULT_DESCRIPTION)).alias(
            "description"
        ),
        F.coalesce("data.collection_keywords", F.array().cast("array<string>")).alias(
            "keywords"
        ),
        F.col("data.banner_image").alias("banner_image_in"),
        F.col("data.avatar_emoji").alias("avatar_emoji"),
    ).join(commands, "collection_id", "left")

    df = head.join(grouped, "collection_id", "left").withColumn(
        "tnames",
        F.transform(
            F.coalesce(
                "tnames",
                F.array().cast(
                    "array<struct<normalized_name:string,"
                    "tokenized_name:array<string>,system_interesting_score:double,"
                    "cached_status:string,namehash:string>>"
                ),
            ),
            lambda t: F.struct(
                t["normalized_name"].alias("normalized_name"),
                t["tokenized_name"].alias("tokenized_name"),
                t["system_interesting_score"].alias("system_interesting_score"),
                F.col("member_rank").alias("rank"),
                t["cached_status"].alias("cached_status"),
                t["namehash"].alias("namehash"),
            ),
        ),
    )

    statuses = F.transform("tnames", lambda t: t["cached_status"])
    nonavailable = F.size(
        F.filter(
            statuses, lambda s: s.isin("taken", "on_sale", "recently_released")
        )
    )
    return df.select(
        F.struct(
            F.col("collection_name"),
            F.transform(
                "tnames",
                lambda t: F.struct(
                    t["normalized_name"].alias("normalized_name"),
                    F.lit("").alias("avatar_override"),
                    t["tokenized_name"].alias("tokenized_name"),
                ),
            ).alias("names"),
            F.col("description").alias("collection_description"),
            F.col("keywords").alias("collection_keywords"),
            F.lit(None).cast("string").alias("collection_image"),
            F.lit(True).alias("public"),
            F.coalesce("banner_image_in", banner_udf("collection_id")).alias(
                "banner_image"
            ),
            F.lit(None).cast("string").alias("avatar_image"),
            F.col("avatar_emoji"),
            F.lit(False).alias("archived"),
        ).alias("data"),
        F.struct(
            F.lit(True).alias("curated"),
            F.lit("").alias("category"),
            F.lit(False).alias("trending"),
            F.lit(False).alias("community_choice"),
        ).alias("curation"),
        F.struct(
            F.col("collection_id").alias("id"),
            F.lit("custom").alias("type"),
            F.lit(0).alias("version"),
            F.lit(created_ms).alias("created"),
            F.lit(created_ms).alias("modified"),
            F.size("tnames").cast("long").alias("members_count"),
        ).alias("metadata"),
        F.struct(
            F.col("collection_rank"),
            F.col("tnames").alias("names"),
            F.slice("tnames", 1, 10).alias("top10_names"),
            F.slice("tnames", 1, 25).alias("top25_names"),
            nonavailable.cast("long").alias("nonavailable_members_count"),
            F.size(F.filter(statuses, lambda s: s == "available"))
            .cast("long")
            .alias("available_count"),
            F.size(F.filter(statuses, lambda s: s.isNull()))
            .cast("long")
            .alias("never_registered_count"),
        ).alias("template"),
    )


def produce_custom_update_operations(
    docs: DataFrame, known_ids: DataFrame | None
) -> DataFrame:
    """J15: update when the id exists in the index snapshot, else create
    (reference load_custom_collections.py:371-396)."""
    cur = docs.select(F.col("metadata.id").alias("id"))
    if known_ids is None:
        return cur.select("id", F.lit("create").alias("op"))
    k = known_ids.select(F.col(known_ids.columns[0]).alias("id")).distinct()
    return (
        cur.join(k.withColumn("___known", F.lit(1)), "id", "left")
        .select(
            "id",
            F.when(F.col("___known").isNotNull(), "update")
            .otherwise("create")
            .alias("op"),
        )
    )
