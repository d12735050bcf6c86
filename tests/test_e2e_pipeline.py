"""Minimum end-to-end slice (SURVEY §7): tiny NT + categorylinks fixture →
final document, asserting curation, member validation, ranks, status counts
and top-k against hand-computed values."""

import pytest
from pyspark.sql import functions as F

from collection_templates_spark.plans.pipeline import PipelineInputs, run_pipeline

WD = "<http://www.wikidata.org/entity/"
WP = "<https://en.wikipedia.org/wiki/"
P = "<http://www.wikidata.org/prop/direct/"

# One category "Pink Floyd albums" (Q100, category_contains Q482994 "album")
# with members: two real albums, one invalid page (a person), one
# redirect-resolved album.
NT = [
    # a "List of Pink Floyd albums" (Q200, is_a_list_of Q482994) exercising
    # the list branch: page-id-keyed edges via pagelinks
    f"{WD}Q200> {P}P360> {WD}Q482994> .",
    f"{WP}List_of_Pink_Floyd_albums> <http://schema.org/about> {WD}Q200> .",
    # category entity
    f"{WD}Q100> {P}P4224> {WD}Q482994> .",
    f'{WD}Q100> <http://www.w3.org/2000/01/rdf-schema#label> "Category:Pink Floyd albums"@en .',
    f"{WP}Category:Pink_Floyd_albums> <http://schema.org/about> {WD}Q100> .",
    # class graph: studio album -> album
    f"{WD}Q208569> {P}P279> {WD}Q482994> .",
    # members
    f"{WP}The_Wall> <http://schema.org/about> {WD}Q1> .",
    f"{WD}Q1> {P}P31> {WD}Q208569> .",
    f'{WD}Q1> <http://www.w3.org/2000/01/rdf-schema#label> "The Wall"@en .',
    f"{WP}Animals_(album)> <http://schema.org/about> {WD}Q2> .",
    f"{WD}Q2> {P}P31> {WD}Q482994> .",
    # a person page — must be invalid
    f"{WP}Roger_Waters> <http://schema.org/about> {WD}Q3> .",
    f"{WD}Q3> {P}P31> {WD}Q5> .",
    # redirect member: Q4 has no types, same_as → Q1
    f"{WP}The_Wall_(remaster)> <http://schema.org/about> {WD}Q4> .",
    f"{WD}Q4> <http://www.w3.org/2002/07/owl#sameAs> {WD}Q1> .",
]

CATEGORYLINKS = [
    (11, "Pink_Floyd_albums"),
    (12, "Pink_Floyd_albums"),
    (13, "Pink_Floyd_albums"),
    (14, "Pink_Floyd_albums"),
]

# list branch: page 98 is the "List of Pink Floyd albums" page
PAGELINKS = [
    (98, "The_Wall"),
    (98, "Animals_(album)"),
    (98, "Roger_Waters"),
]

MAPPING = [
    ("The Wall", 11, "Q1"),
    ("Animals (album)", 12, "Q2"),
    ("Roger Waters", 13, "Q3"),
    ("The Wall (remaster)", 14, "Q4"),
    ("Category:Pink Floyd albums", 99, "Q100"),
    ("List of Pink Floyd albums", 98, "Q200"),
]

QRANK = [("Q1", 5000), ("Q2", 300), ("Q100", 77)]
DOMAINS = [("thewall", "taken"), ("animals", "available")]


def _inputs(spark, categorylinks=CATEGORYLINKS, pagelinks=PAGELINKS, nt=NT, **kw):
    return PipelineInputs(
        nt_lines=spark.createDataFrame([(x,) for x in nt], ["value"]),
        categorylinks=spark.createDataFrame(
            categorylinks, "cl_from bigint, cl_to string"
        ),
        pagelinks=spark.createDataFrame(
            pagelinks, "pl_from bigint, pl_title string"
        ),
        mapping=spark.createDataFrame(
            MAPPING, "title string, wikipedia_id bigint, qid string"
        ),
        qrank=spark.createDataFrame(QRANK, "id string, rank bigint"),
        domains=spark.createDataFrame(DOMAINS, "name string, status string"),
        created_ms=123.0,
        **kw,
    )


def test_minimum_slice(spark, tmp_path):
    inputs = _inputs(spark)
    result = run_pipeline(spark, inputs, workdir=str(tmp_path))
    docs = result["merged_final"].collect()
    assert len(docs) == 1
    doc = docs[0]

    # the category (Q100) merged into the list (Q200) by exact name (J12);
    # min numeric QID becomes the stable id
    assert doc.data.collection_name == "Pink Floyd albums"  # curate_name
    assert doc.metadata.id == "Q100"
    t = doc.template
    assert t.is_merged
    assert t.collection_rank == 77  # max(category 77, list 0)
    # The Wall valid (studio album ⊂ album), Animals valid (exact type),
    # The Wall (remaster) valid via same_as redirect but dedups into
    # "thewall" (same curated), Roger Waters invalid (human ⊄ album);
    # the list branch revalidates The Wall / Animals and rejects Roger
    names = [n.normalized_name for n in t.names]
    assert names == ["thewall", "animals"]  # rank 5000 sorts first
    assert t.valid_members_count == 5 and t.invalid_members_count == 2
    assert doc.metadata.members_count == 2  # post-dedup
    assert t.taken_count == 1 and t.available_count == 1
    wall = t.names[0]
    assert wall.rank == 5000 and wall.cached_status == "taken"
    assert wall.namehash.startswith("0x")
    assert t.top10_names == t.names

    ops = {r.id: r.op for r in result["operations"].collect()}
    assert ops == {"Q100": "insert"}


def test_degenerate_inputs(spark, tmp_path):
    """Empty link tables and an empty previous snapshot give typed,
    empty-or-smaller results, never a plan-construction error."""
    # no categories and no lists: nothing to collect
    none = run_pipeline(
        spark, _inputs(spark, categorylinks=[], pagelinks=[]),
        workdir=str(tmp_path / "none"),
    )
    docs = none["merged_final"]
    assert docs.count() == 0 and none["operations"].count() == 0
    assert "template" in docs.columns

    # no lists: the category alone, diffed against an empty snapshot
    result = run_pipeline(
        spark,
        _inputs(
            spark, pagelinks=[],
            previous_snapshot=spark.createDataFrame([], docs.schema),
        ),
        workdir=str(tmp_path / "no_lists"),
    )
    [doc] = result["merged_final"].collect()
    assert doc.metadata.id == "Q100" and not doc.template.is_merged
    ops = {r.id: r.op for r in result["operations"].collect()}
    assert ops == {"Q100": "insert"}


def test_collection_in_both_modes(spark, tmp_path):
    """A QID that is a category collection and a list collection at once
    keeps one row per mode, each with that mode's own members and counts:
    collections are keyed by (mode, item), never by item alone."""
    # Q100 is also a list of albums; page 99 (its mapped page) links to
    # a person and an album
    nt = NT + [f"{WD}Q100> {P}P360> {WD}Q482994> ."]
    pagelinks = PAGELINKS + [(99, "Roger_Waters"), (99, "The_Wall")]
    run_pipeline(
        spark, _inputs(spark, pagelinks=pagelinks, nt=nt), workdir=str(tmp_path)
    )

    def counts(stage):
        return sorted(
            tuple(r) for r in spark.read.parquet(str(tmp_path / f"{stage}.parquet"))
            .select("item", "valid_members_count", "invalid_members_count")
            .collect()
        )

    assert counts("validated_category") == [("Q100", 3, 1)]
    assert counts("validated_list") == [("Q100", 1, 1), ("Q200", 2, 1)]
    assert counts("all_info_category") == [("Q100", 3, 1)]
    assert counts("all_info_list") == [("Q100", 1, 1), ("Q200", 2, 1)]


@pytest.mark.slow
def test_minimum_slice_mapping_from_sqlite(spark, tmp_path):
    """Same slice, but the wikimapper mapping arrives through the S4
    sqlite source (rowid-partitioned read + flag pushdown + _→space
    rewrite) instead of a pre-built DataFrame — the reference's actual
    ingestion path (create_kv.py:165-180) exercised end-to-end."""
    import sqlite3

    from collection_templates_spark.operators.entities import (
        title_qid_from_mapping,
    )
    from collection_templates_spark.sources.wikimapper import read_wikimapper

    db = str(tmp_path / "index_enwiki.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE mapping (wikipedia_id INTEGER, wikipedia_title TEXT,"
        " wikidata_id TEXT, primary_mapping INTEGER, redirect INTEGER)"
    )
    con.executemany(
        "INSERT INTO mapping VALUES (?,?,?,?,?)",
        [(pid, t.replace(" ", "_"), q, 1, 0) for t, pid, q in MAPPING]
        # noise the filters must drop: a redirect row and a non-primary row
        + [(51, "The_Wall_redirect", "Q1", 1, 1), (52, "Other", "Q9", 0, 0)],
    )
    con.commit()
    con.close()

    mapping = title_qid_from_mapping(read_wikimapper(spark, db, num_partitions=2))
    inputs = _inputs(spark)
    inputs.mapping = mapping
    result = run_pipeline(spark, inputs, workdir=str(tmp_path / "wd"))
    docs = result["merged_final"].collect()
    assert len(docs) == 1
    doc = docs[0]
    assert doc.data.collection_name == "Pink Floyd albums"
    assert doc.metadata.id == "Q100"
    assert [n.normalized_name for n in doc.template.names] == ["thewall", "animals"]
