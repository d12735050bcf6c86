"""Merge & cleanup: lists ∪ categories, letter-range groups, duplicates.

Reference: airflow/dags/create_merged.py:549-1017 —
- ``merge_collections``            :549-576  (A8 group-merge)
- P7/P8/P9 filters                 :579-611
- ``merge_lists_and_categories``   :614-714  (U1 + J11/J12 routing)
- ``remove_collections_with_letters`` :745-804 (A9)
- ``remove_duplicates``            :992-1017 (A7 + A8)

The reference's merge is an in-place left fold over file order; a
distributed merge needs an explicit deterministic order instead. We document
one divergence: where the reference merges a category into "the first
matching list in file order" (J11) we pick the matching list with the
SMALLEST numeric QID (stable under any partitioning). Merge semantics per
field follow :549-576 exactly: min QID as id, members concat→rank-sort→
dedup-first, counts sum, keywords concat, types set-union, first non-empty
description/image/banner, rank max, is_merged=true.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from collection_templates_spark.functions.scoring import ordered_list
from collection_templates_spark.schemas import MEMBER_SCHEMA, TYPE_SCHEMA

# Wikimedia-internal types that disqualify a collection (P7,
# create_merged.py:579-592)
FILTER_TYPES = (
    "Q11266439",  # Wikimedia template
    "Q4663261",  # Wikipedia:Stub
    "Q13406463",  # Wikimedia list article
    "Q11753321",  # Wikimedia navigational template
    "Q20769160",  # Wikimedia userbox template
    "Q30432511",  # Wikimedia meta category
    "Q4167836",  # Wikimedia category
    "Q33532284",  # Wikimedia list of lists
)

# P8 name regexes (create_merged.py:595-604) — re.match semantics → anchor ^
FILTER_NAME_REGEX = (
    "^(Wikipedia:.*|Highways numbered .*|Lists (of|that) .*|Incomplete lists? from .*)"
)


def apply_collection_filters(df: DataFrame) -> DataFrame:
    """P7 (type blacklist) + P8 (name regexes) + P9 ('by <lowercase>')."""
    type_ids = F.transform("types", lambda t: t["id"])
    no_bad_type = (
        F.size(F.array_intersect(type_ids, F.array(*[F.lit(t) for t in FILTER_TYPES])))
        == 0
    )
    not_regex = ~F.coalesce(F.col("name"), F.lit("")).rlike(FILTER_NAME_REGEX)
    # P9: first word after ' by ' starts lowercase (create_merged.py:607-611)
    by_word = F.regexp_extract(F.col("name"), " by ([^ ]*)", 1)
    not_by = ~((by_word != "") & F.regexp_extract(by_word, "^([a-z])", 1).__ne__(""))
    return df.filter(no_bad_type & not_regex & not_by)


def _qid_int(item: F.Column) -> F.Column:
    return F.regexp_replace(item, "^Q", "").cast("long")


def merge_groups(df: DataFrame) -> DataFrame:
    """A8: merge every group of collections sharing ``merge_key`` into one
    (create_merged.py:549-576).

    Within a group the reference folds left in file order; our deterministic
    fold order is ``merge_rank`` asc then numeric QID asc (callers set
    merge_key, and merge_rank: 0 for the merge target — the list — and 1+
    for sources).
    Field semantics:
      item           min numeric QID
      members        concat in fold order → sort rank desc → dedup first
      counts         sum
      keywords       concat in fold order (duplicates preserved, U3)
      types          set-union
      description/image/page_banner   first non-empty in fold order
      rank           max
      name/article   the merge target's (fold-first row)
      is_merged      true iff group has > 1 row
    """
    w_order = Window.partitionBy("merge_key").orderBy(
        F.asc("merge_rank"), F.asc(_qid_int(F.col("item")))
    )
    df = df.withColumn("___ord", F.row_number().over(w_order))

    # members: explode with fold position, rank-desc sort with stable
    # tie-break on (fold position, in-array position), dedup keep first
    m = df.select(
        "merge_key",
        "___ord",
        F.posexplode_outer("members").alias("mpos", "member"),
    ).filter(F.col("member").isNotNull())
    w_dedup = Window.partitionBy("merge_key", "member.curated").orderBy(
        F.desc("member.rank"), F.asc("___ord"), F.asc("mpos")
    )
    merged_members = (
        m.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .groupBy("merge_key")
        .agg(
            ordered_list(
                F.col("member"), -F.col("member.rank"), F.col("___ord"), F.col("mpos")
            ).alias("members")
        )
    )

    kw = df.select(
        "merge_key", "___ord", F.posexplode_outer("keywords").alias("kpos", "kw")
    )
    merged_kw = kw.groupBy("merge_key").agg(
        ordered_list(F.col("kw"), F.col("___ord"), F.col("kpos")).alias("keywords")
    )

    ty = df.select("merge_key", F.explode_outer("types").alias("t"))
    merged_ty = (
        ty.filter(F.col("t").isNotNull())
        .groupBy("merge_key")
        .agg(F.array_sort(F.array_distinct(F.collect_list("t"))).alias("types"))
    )

    head = (
        df.groupBy("merge_key")
        .agg(
            F.concat(F.lit("Q"), F.min(_qid_int(F.col("item"))).cast("string")).alias(
                "item"
            ),
            F.min_by("name", "___ord").alias("name"),
            F.min_by("article", "___ord").alias("article"),
            F.sum("valid_members_count").alias("valid_members_count"),
            F.sum("invalid_members_count").alias("invalid_members_count"),
            F.min_by(
                "description",
                F.when(
                    F.col("description").isNotNull() & (F.col("description") != ""),
                    F.col("___ord"),
                ),
            ).alias("description"),
            F.min_by(
                "image", F.when(F.size(F.coalesce("image", F.array())) > 0, F.col("___ord"))
            ).alias("image"),
            F.min_by(
                "page_banner",
                F.when(F.size(F.coalesce("page_banner", F.array())) > 0, F.col("___ord")),
            ).alias("page_banner"),
            F.max("rank").alias("rank"),
            (F.count("*") > 1).alias("___multi"),
            F.max(F.col("is_merged").cast("int")).alias("___was_merged"),
        )
        .withColumn(
            "is_merged",
            (F.col("___multi") | (F.col("___was_merged") == 1)),
        )
        .drop("___multi", "___was_merged")
    )
    return (
        head.join(merged_members, "merge_key", "left")
        .join(merged_kw, "merge_key", "left")
        .join(merged_ty, "merge_key", "left")
        .withColumn("members", F.coalesce("members", F.array().cast(ArrayType(MEMBER_SCHEMA))))
        .withColumn("keywords", F.coalesce("keywords", F.array().cast("array<string>")))
        .withColumn("types", F.coalesce("types", F.array().cast(ArrayType(TYPE_SCHEMA))))
    )


def merge_lists_and_categories(
    lists: DataFrame, categories: DataFrame, db4: DataFrame
) -> DataFrame:
    """U1 + J11/J12: route each category to a related list (db4 edges in
    either direction), else to a list with the same name, else keep it.

    Deviation from the reference's file-order "first match": the matching
    list with the smallest numeric QID wins (deterministic).
    """
    lists = apply_collection_filters(lists)
    categories = apply_collection_filters(categories)

    # db4 edges normalized to (category_item, list_item)
    e1 = db4.select(
        F.col("id").alias("list_item"),
        F.explode(F.coalesce("category_related_to_list", F.array())).alias(
            "category_item"
        ),
    )
    e2 = db4.select(
        F.col("id").alias("category_item"),
        F.explode(F.coalesce("list_related_to_category", F.array())).alias("list_item"),
    )
    edges = e1.unionByName(e2).distinct()

    list_ids = lists.select(F.col("item").alias("list_item"))
    cat_edges = (
        edges.join(list_ids, "list_item", "left_semi")
        .groupBy("category_item")
        .agg(F.min(_qid_int(F.col("list_item"))).alias("___lid"))
        .select(
            "category_item",
            F.concat(F.lit("Q"), F.col("___lid").cast("string")).alias("list_item"),
        )
    )

    cats = categories.join(
        cat_edges, categories.item == cat_edges.category_item, "left"
    ).drop("category_item")

    # J12 name fallback for unrouted categories: the min-QID list per name
    names = lists.groupBy("name").agg(
        F.concat(F.lit("Q"), F.min(_qid_int(F.col("item"))).cast("string")).alias(
            "___by_name"
        )
    )
    cats = cats.join(names, "name", "left")
    cats = cats.withColumn("___target", F.coalesce("list_item", "___by_name")).drop(
        "list_item", "___by_name"
    )

    lists = lists.withColumn("merge_key", F.col("item")).withColumn(
        "merge_rank", F.lit(0)
    )
    cats = cats.withColumn(
        "merge_key", F.coalesce("___target", F.col("item"))
    ).withColumn("merge_rank", F.lit(1)).drop("___target")

    return merge_groups(lists.unionByName(cats)).drop("merge_key")


# --- letter-range normalization (A9, create_merged.py:717-804) -------------

_EXPLICIT_PARENS = (
    r"[Ll]isted [Aa]lphabetically", r"[Ll]ist", r"[Cc]urrent", r"[Cc]hronological",
    r"[Cc]ategorised", r"by .*?", r"[Aa]lphabetical", r"[Aa]lphabetic",
    r"[Ss]eat .*?", r"[Pp]art .*?", r"MONA .*?", r"[Cc]onstituencies .*?",
    r"!\$@", r"[A-Z][a-z]",
)
M1_PATTERN = (
    r"(.*)(([,:–(] ?[A-Z0-9]+[a-z]* ?([–-]| to ) ?[^ ]+$)|((: |, |– |starting with |\()[A-Z]\)?$))"
)
M2_PATTERN = r"(.*\S)(\s*\((" + "|".join(_EXPLICIT_PARENS) + r")\))$"
M3_PATTERNS = (
    r"(.* lists? of )(\w.*)",
    r"(.*(?<!and )(?<!are )\b[Ll]isted )(.*?(buildings|churches|lighthouses|memorials).*)",
)
ALPHABET_RANGE_PATTERN = r"^[^A-Za-z]*[A-Za-z]( ?[-–] ?[A-Za-z])?[^A-Za-z]*$"


def _ucfirst(col: F.Column) -> F.Column:
    return F.when(
        F.length(col) > 0,
        F.concat(F.upper(F.substring(col, 1, 1)), F.substr(col, F.lit(2))),
    ).otherwise(col)


def _merge_named(df: DataFrame, key: str) -> DataFrame:
    """Merge each group of rows sharing ``key`` into one collection named
    by that key (fold order: numeric QID)."""
    keyed = df.withColumn("merge_key", F.col(key)).withColumn("merge_rank", F.lit(0))
    return (
        merge_groups(keyed)
        .withColumn("name", F.col("merge_key"))
        .drop("merge_key")
    )


def remove_collections_with_letters(df: DataFrame) -> DataFrame:
    """A9: strip letter-range / explicit-parenthetical suffixes, group by the
    normalized name, merge groups > 1, rename singletons matched by the
    explicit patterns (m2/m3) or a pure alphabet range."""
    name = F.coalesce(F.col("name"), F.lit(""))
    m1_norm = F.regexp_extract(name, M1_PATTERN, 1)
    m1_strip = F.regexp_extract(name, M1_PATTERN, 2)
    m2_norm = F.regexp_extract(name, M2_PATTERN, 1)
    m3a_norm = F.regexp_extract(name, M3_PATTERNS[0], 2)
    m3b_norm = F.regexp_extract(name, M3_PATTERNS[1], 2)

    df = (
        df.withColumn("___m1", m1_norm)
        .withColumn("___m1s", m1_strip)
        .withColumn("___m2", m2_norm)
        .withColumn("___m3", F.when(m3a_norm != "", m3a_norm).otherwise(m3b_norm))
    )
    matched = (F.col("___m1") != "") | (F.col("___m2") != "") | (F.col("___m3") != "")
    norm = F.trim(
        F.when(F.col("___m1") != "", F.col("___m1"))
        .when(F.col("___m2") != "", F.col("___m2"))
        .otherwise(F.col("___m3"))
    )
    df = df.withColumn("___nn", norm).withColumn("___nn", _ucfirst(F.col("___nn")))

    untouched = df.filter(~matched).drop("___m1", "___m1s", "___m2", "___m3", "___nn")

    cand = df.filter(matched)
    w = Window.partitionBy("___nn")
    cand = cand.withColumn("___groupn", F.count("*").over(w))

    # groups > 1 → merge + rename to the normalized name
    merged = _merge_named(cand.filter(F.col("___groupn") > 1), "___nn")

    # singletons: rename only on m2/m3 or alphabet-range m1 strips
    singles = cand.filter(F.col("___groupn") == 1)
    rename = (
        (F.col("___m2") != "")
        | (F.col("___m3") != "")
        | ((F.col("___m1") != "") & F.col("___m1s").rlike(ALPHABET_RANGE_PATTERN))
    )
    singles = singles.withColumn(
        "name", F.when(rename, F.col("___nn")).otherwise(F.col("name"))
    ).drop("___m1", "___m1s", "___m2", "___m3", "___nn", "___groupn")

    return untouched.unionByName(singles).unionByName(merged.select(*untouched.columns))


def remove_duplicates(df: DataFrame) -> DataFrame:
    """A7 + A8: collections sharing a name merge into one
    (create_merged.py:992-1017)."""
    w = Window.partitionBy("name")
    df = df.withColumn("___n", F.count("*").over(w))
    uniq = df.filter(F.col("___n") == 1).drop("___n")
    dups = _merge_named(df.filter(F.col("___n") > 1), "name")
    return uniq.unionByName(dups.select(*uniq.columns))
