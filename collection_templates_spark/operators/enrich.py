"""Enrichment ("collections-all-info"): normalization + ranks + statuses.

Reference: airflow/dags/create_merged.py:383-482 ``compute_all_info`` — a
RocksDB-lookup loop per collection; here each lookup class is a join
(SURVEY §2.3 J7-J10) and each memoized Python function runs once per
distinct input (Opt-6, ``udfs.compute_on_distinct``):

- member curation (F3) on distinct member titles, db5-label fallback (J9)
- qrank left-join, default 0 (J7) for both members and collections
- suggestable-domains status left-join (J8)
- db5 label/description/image/banner enrichment (J9)
- keywords = all wikimapper titles for the QID, curated, minus own name (J10)
- members sorted by log-rank key, dedup keep-first (O2/O6)

Scale: the only big-big join is members ⋈ db5/qrank on qid — sort-merge,
AQE-handled. Everything UDF-shaped is bounded by distinct label count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from collection_templates_spark.functions.scoring import member_sort_key, ordered_list
from collection_templates_spark.functions.udfs import (
    compute_on_distinct,
    curate_member_udf,
    curate_name_udf,
    interesting_score_udf,
)
from collection_templates_spark.operators.cache_tables import (
    apply_cached,
    refresh_cache,
)
from collection_templates_spark.schemas import MEMBER_SCHEMA, TYPE_SCHEMA


def _unquote(col: F.Column) -> F.Column:
    """Native equivalent of urllib.parse.unquote (reference unquotes image /
    page_banner URLs, create_merged.py:443-449): '+' is NOT a space in
    unquote semantics (pre-escape to %2B), and a malformed %-sequence passes
    through as a literal while VALID escapes around it still decode — the
    '%' of any non-%XX run is pre-encoded to %25 so url_decode treats it as
    text. Escapes decoding to invalid UTF-8 (e.g. %FF) become U+FFFD in
    both engines (url_decode and unquote use errors='replace' semantics),
    so parity holds on mixed valid/malformed inputs too; the coalesce stays
    as a belt-and-braces fallback."""
    escaped = F.regexp_replace(
        F.regexp_replace(col, "\\+", "%2B"), "%(?![0-9A-Fa-f]{2})", "%25"
    )
    return F.coalesce(F.try_url_decode(escaped), col)


def enrich_members(
    validated: DataFrame,
    db5: DataFrame,
    qrank: DataFrame,
    domains: DataFrame,
    score_cache_path: str | None = None,
    score_udf=None,
) -> DataFrame:
    """Per-(collection, member) enriched rows.

    ``score_udf`` (F10): pandas-UDF column factory for the interesting
    score; defaults to the documented stub, pass
    ``udfs.interesting_score_udf_for(freqs_bc)`` for real corpus-model
    scoring (langmodel.py).

    validated: item, type, article, members array<struct(qid,title)>, counts.
    qrank: (id, rank); domains: (name, status) with .eth already stripped.
    Returns: item, member struct rows (curated, tokenized,
    interesting_score, rank, status) — invalid/uncurable members dropped
    (reference drops members where even the label fallback fails).
    """
    m = validated.select(
        "item", F.explode("members").alias("mm")
    ).select("item", F.col("mm.qid").alias("member_qid"), F.col("mm.title").alias("member_title"))

    # primary curation on the member title
    m = compute_on_distinct(m, "member_title", curate_member_udf, "c1")

    # fallback: curate the db5 label when the title fails (J9). NB the
    # curate UDF returns a struct with NULL fields on failure (not a null
    # struct), so failure is detected on c1.curated.
    failed1 = F.col("c1").isNull() | F.col("c1.curated").isNull()
    labels = db5.select(F.col("id").alias("member_qid"), F.col("label"))
    m = m.join(labels, "member_qid", "left").withColumn(
        "___fb", F.when(failed1, F.col("label"))
    )
    m = compute_on_distinct(m, "___fb", curate_member_udf, "c2")
    m = m.withColumn(
        "c", F.when(~failed1, F.col("c1")).otherwise(F.col("c2"))
    ).filter(F.col("c").isNotNull() & F.col("c.curated").isNotNull())

    # ranks (J7, default 0), interesting score (F10, on distinct curated),
    # domain status (J8)
    q = qrank.select(F.col("id").alias("member_qid"), F.col("rank").alias("___r"))
    m = m.join(q, "member_qid", "left").withColumn(
        "rank", F.coalesce("___r", F.lit(0)).cast("long")
    )
    score_udf = score_udf or interesting_score_udf
    if score_cache_path:
        # Opt-6 across runs: the persisted score cache is refreshed with
        # only the labels unseen so far (the reference's interesting-score
        # RocksDB cache, its 11h52m long pole, as an incremental table)
        cache = refresh_cache(
            m.sparkSession,
            score_cache_path,
            m.select(F.col("c.curated").alias("curated")),
            "curated",
            score_udf,
        )
        m = apply_cached(m, cache, "c.curated", "___score")
    else:
        m = compute_on_distinct(m, "c.curated", score_udf, "___score")
    d = domains.select(F.col("name").alias("___dn"), F.col("status"))
    m = m.join(d, m["c.curated"] == F.col("___dn"), "left")
    return m.select(
        "item",
        F.struct(
            F.col("c.curated").alias("curated"),
            F.coalesce(F.col("c.tokenized"), F.array().cast("array<string>")).alias(
                "tokenized"
            ),
            F.col("___score").alias("interesting_score"),
            F.col("rank").alias("rank"),
            F.col("status").alias("status"),
        ).alias("member"),
    )


def assemble_members(member_rows: DataFrame) -> DataFrame:
    """Sort by the log-rank key desc (ties: curated asc for determinism —
    the reference relies on stable sort of file order), dedup keep-first by
    curated (O6), regroup to arrays."""
    w_dedup = Window.partitionBy("item", "member.curated").orderBy(
        F.desc("key"), F.asc("member.rank")
    )
    rows = (
        member_rows.withColumn(
            "key", member_sort_key(F.col("member.rank"), F.col("member.curated"))
        )
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
    )
    return rows.groupBy("item").agg(
        ordered_list(F.col("member"), -F.col("key"), F.col("member.curated")).alias(
            "members"
        )
    )


def enrich_collections(
    validated: DataFrame,
    db5: DataFrame,
    qrank: DataFrame,
    domains: DataFrame,
    mapping_titles: DataFrame,
    score_cache_path: str | None = None,
    score_udf=None,
) -> DataFrame:
    """Full all-info stage → COLLECTION_SCHEMA rows.

    mapping_titles: (qid, title) INCLUDING redirects — the keyword source
    (J10).
    score_cache_path: optional persisted interesting-score cache (Opt-6).
    """
    members = assemble_members(
        enrich_members(
            validated, db5, qrank, domains, score_cache_path, score_udf=score_udf
        )
    )

    coll = validated.select(
        "item", "type", "article", "valid_members_count", "invalid_members_count"
    )
    # collection name (F1) on distinct articles
    coll = compute_on_distinct(coll, "article", curate_name_udf, "___name")

    # type labels (J9): explode type ids, left join db5 label, regroup
    types = (
        coll.select("item", F.explode("type").alias("tid"))
        .join(
            db5.select(F.col("id").alias("tid"), F.col("label").alias("tlabel")),
            "tid",
            "left",
        )
        .groupBy("item")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("tid").alias("id"), F.col("tlabel").alias("label"))
                )
            ).alias("types")
        )
    )
    coll = coll.join(types, "item", "left")

    # db5 aux data for the collection itself (J9)
    aux = db5.select(
        F.col("id").alias("item"),
        F.col("description").alias("___desc"),
        F.col("image").alias("___image"),
        F.col("page_banner").alias("___banner"),
    )
    coll = coll.join(aux, "item", "left")
    desc = F.when(
        F.col("___desc").isin("Wikimedia list article", "Wikimedia category"),
        F.lit(None),
    ).otherwise(F.regexp_replace("___desc", "^[Ww]ikimedia ", ""))

    # keywords (J10): all titles for the QID (redirects included), curated,
    # minus the collection's own name
    kw_src = mapping_titles.select(
        F.col("qid").alias("item"), F.col("title").alias("kw")
    )
    keywords = (
        compute_on_distinct(kw_src, "kw", curate_name_udf, "kwc")
        .groupBy("item")
        .agg(F.array_sort(F.collect_list("kwc")).alias("___kws"))
    )
    coll = coll.join(keywords, "item", "left")

    q = qrank.select(F.col("id").alias("item"), F.col("rank").alias("___crank"))
    coll = coll.join(q, "item", "left")

    out = coll.join(members, "item", "left").select(
        "item",
        F.coalesce("types", F.array().cast(ArrayType(TYPE_SCHEMA))).alias("types"),
        "article",
        F.col("___name").alias("name"),
        F.coalesce("members", F.array().cast(ArrayType(MEMBER_SCHEMA))).alias("members"),
        "valid_members_count",
        "invalid_members_count",
        F.array_remove(F.coalesce("___kws", F.array().cast("array<string>")), "").alias(
            "keywords"
        ),
        desc.alias("description"),
        F.transform(
            F.coalesce("___image", F.array().cast("array<string>")), _unquote
        ).alias("image"),
        F.transform(
            F.coalesce("___banner", F.array().cast("array<string>")), _unquote
        ).alias("page_banner"),
        F.coalesce("___crank", F.lit(0)).cast("long").alias("rank"),
        F.lit(False).alias("is_merged"),
    )
    # remove the collection's own name from keywords (create_merged.py:456)
    return out.withColumn(
        "keywords", F.array_remove(F.col("keywords"), F.coalesce(F.col("name"), F.lit("")))
    )
