"""Ontology-reachability member validation (SURVEY §2.3 J13, §7 step 4).

Reference: airflow/dags/create_collections.py:548-710 — a per-member DFS
over the `subclass_of` graph with `same_as` redirect fallback and an
lru_cache. At 29M members that is the reference's hot loop (37m + 32m).

Spark design (set-at-a-time, three joins + one bounded BFS):

1. member title → QID (J6): left join the `about` store with quoted titles,
   coalesce with the wikimapper fallback, drop misses.
2. class-level reachability, computed BACKWARDS: seed a frontier with the
   distinct collection-type targets (small — thousands) and expand along
   REVERSED subclass edges. This bounds state at |targets| × |descendants|
   and never materializes the full 3.4M-edge closure. Cycles converge
   because the frontier is always (seed, node)-new. `same_as` redirects
   become extra zero-cost edges for nodes absent from the type store
   (exactly the reference's KeyError fallback, :573-578).
3. validity = one semi-join: member (entry, collection_type) hits the
   reachability set (entry == descendant ∧ type == seed).

Skew note: the Q5 ("human") subtree dominates — the reachability table is
keyed by (seed, node) so the hot seed spreads over partitions; AQE skew-join
handles the final semi-join.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from collection_templates_spark.operators.graph import reachable_from

# Wikimedia list article — removed from collection types before validation
# (reference create_collections.py:633-640)
FILTER_MEMBER_TYPES = ("Q13406463",)


def resolve_member_qids(
    grouped: DataFrame, title_qid: DataFrame, mapping_qid: DataFrame
) -> DataFrame:
    """J6: member title → QID with fallback; misses dropped.

    ``title_qid``: (title, qid) from the `about` triples (URL-quoted,
    underscore form — reference quotes the title before lookup,
    create_collections.py:671). ``mapping_qid``: (title, qid) wikimapper
    fallback.
    Returns one row per (collection, member): mode, item, type, article,
    member_qid, member_title.
    """
    member = grouped.select(
        "mode",
        "item",
        "type",
        "article",
        F.explode("members").alias("member_title"),
    )
    # the stores key titles with underscores; members carry spaces
    key = F.regexp_replace(F.col("member_title"), " ", "_")
    t1 = title_qid.select(
        F.col("title").alias("___t"), F.col("qid").alias("___q1")
    )
    t2 = mapping_qid.select(
        F.regexp_replace(F.col("title"), " ", "_").alias("___t2"),
        F.col("qid").alias("___q2"),
    )
    return (
        member.join(t1, key == F.col("___t"), "left")
        .join(t2, key == F.col("___t2"), "left")
        .withColumn("member_qid", F.coalesce(F.col("___q1"), F.col("___q2")))
        .filter(F.col("member_qid").isNotNull())
        .select("mode", "item", "type", "article", "member_qid", "member_title")
    )


def subclass_edges(db2: DataFrame, db6: DataFrame) -> DataFrame:
    """Directed (child → parent) subclass edges, plus redirect edges for
    nodes with no entry in the type store (the reference's same_as fallback
    applies ONLY on a full KeyError, create_collections.py:571-578)."""
    edges = db2.select(
        F.col("id").alias("src"), F.explode("subclass_of").alias("dst")
    )
    redirects = (
        db6.filter(F.col("same_as").isNotNull())
        .select(F.col("id").alias("src"), F.col("same_as").alias("dst"))
        .join(db2.select(F.col("id").alias("src")), "src", "left_anti")
    )
    return edges.unionByName(redirects)


def validate_members(
    resolved: DataFrame,
    db2: DataFrame,
    db6: DataFrame,
    max_iterations: int = 40,
) -> DataFrame:
    """J13 end-to-end: per-collection valid member lists + counts.

    ``resolved``: output of ``resolve_member_qids``, both collection modes
    in one frame. A collection is keyed by ``(mode, item)``: one QID can be
    a category collection and a list collection at once, and the two keep
    separate members and counts. Returns COLLECTION_SCHEMA-compatible core
    columns: mode, item, type (filtered), article, members
    (array<struct(qid, title)>), valid/invalid counts. Collections left
    without types after the Q13406463 removal are dropped (P10).

    The result is cut eagerly at DISK_ONLY before it is returned: the
    pipeline writes it once per mode, and without the cut each of those
    writes would re-run the whole validation plan. DISK_ONLY because the
    table is corpus-sized. The cut runs here, inside the stage call, so
    its jobs count towards this stage.
    """
    coll = resolved.withColumn(
        "type_ids",
        F.array_except(
            F.transform(
                "type", lambda t: F.regexp_replace(t, "^.*/entity/", "")
            ),
            F.array(*[F.lit(t) for t in FILTER_MEMBER_TYPES]),
        ),
    ).filter(F.size("type_ids") > 0)

    targets = coll.select(F.explode("type_ids").alias("t")).distinct()
    edges = subclass_edges(db2, db6)
    # backwards BFS: (target, node) pairs where node reaches the target
    # along subclass edges, (target, target) included so a member typed
    # exactly as the collection type validates
    reach = reachable_from(
        edges, targets, src="dst", dst="src", max_iterations=max_iterations
    )

    # member entries: instance_of + subclass_of, with same_as redirect
    # fallback when the member qid has no entry at all (reference
    # has_path_rocksdb, create_collections.py:593-606)
    typed = db2.select(
        F.col("id").alias("member_qid"),
        F.concat(
            F.coalesce("instance_of", F.array()),
            F.coalesce("subclass_of", F.array()),
        ).alias("entries"),
    )
    redir = db6.select(
        F.col("id").alias("member_qid"), F.col("same_as").alias("___redir")
    )
    typed2 = typed.select(
        F.col("member_qid").alias("___redir"), F.col("entries").alias("___e2")
    )
    m = (
        resolved.select("member_qid")
        .distinct()
        .join(typed, "member_qid", "left")
        .join(redir, "member_qid", "left")
        .join(typed2, "___redir", "left")
        .select("member_qid", F.coalesce("entries", "___e2").alias("entries"))
    )
    entries = m.filter(F.col("entries").isNotNull()).select(
        "member_qid", F.explode("entries").alias("entry")
    )

    # (member_qid, want) pairs: member has some type that reaches the
    # collection type ``want``
    valid_pairs = (
        entries.join(reach, entries.entry == reach.node)
        .select("member_qid", F.col("seed").alias("want"))
        .distinct()
    )

    # member valid for its collection if any of the collection's type_ids
    # is a type the member reaches
    exploded = coll.select(
        "mode", "item", "member_qid", "member_title",
        F.explode("type_ids").alias("want"),
    )
    hits = (
        exploded.join(valid_pairs, ["member_qid", "want"], "left_semi")
        .select("mode", "item", "member_qid", "member_title")
        .distinct()
        .withColumn("is_valid", F.lit(1))
    )
    flagged = (
        coll.select(
            "mode", "item", "type_ids", "article", "member_qid", "member_title"
        )
        .distinct()
        .join(hits, ["mode", "item", "member_qid", "member_title"], "left")
        .withColumn("is_valid", F.coalesce("is_valid", F.lit(0)))
    )
    return (
        flagged.groupBy("mode", "item")
        .agg(
            F.first("type_ids").alias("type"),
            F.first("article").alias("article"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("is_valid") == 1,
                        F.struct(
                            F.col("member_qid").alias("qid"),
                            F.col("member_title").alias("title"),
                        ),
                    )
                )
            ).alias("members"),
            F.sum("is_valid").alias("valid_members_count"),
            F.sum(1 - F.col("is_valid")).alias("invalid_members_count"),
        )
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
