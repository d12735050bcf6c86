"""Enrichment-stage unit tests (J7-J10), incl. the J9 label fallback that
the e2e slice doesn't reach and the J10 keywords."""

from pyspark.sql import functions as F

from collection_templates_spark.operators.enrich import (
    enrich_collections,
    enrich_members,
)


def _validated(spark):
    return spark.createDataFrame(
        [
            (
                "Q1",
                ["T1"],
                "Category:Things",
                [
                    {"qid": "M1", "title": "Good Name"},
                    # Greek title — curate fails; db5 label must rescue (J9)
                    {"qid": "M2", "title": "ιοσρβυνγ"},
                    # fails both ways → dropped from members
                    {"qid": "M3", "title": "ωωω"},
                ],
                2,
                1,
            )
        ],
        "item string, type array<string>, article string,"
        " members array<struct<qid:string,title:string>>,"
        " valid_members_count bigint, invalid_members_count bigint",
    )


def _db5(spark):
    return spark.createDataFrame(
        [
            ("M2", "Rescued Label", None, None, None),
            ("M3", "ψψψ", None, None, None),  # label also uncurable
            ("T1", "thing", None, None, None),
            ("Q1", "Things", "Wikimedia category", None, None),
        ],
        "id string, label string, description string,"
        " image array<string>, page_banner array<string>",
    )


def _no_titles(spark):
    return spark.createDataFrame([], "qid string, title string")


def test_label_fallback_and_ranks(spark):
    qrank = spark.createDataFrame(
        [("M1", 50), ("M2", 900), ("Q1", 7)], "id string, rank bigint"
    )
    domains = spark.createDataFrame(
        [("rescuedlabel", "taken")], "name string, status string"
    )
    out = enrich_collections(
        _validated(spark), _db5(spark), qrank, domains, _no_titles(spark)
    )
    rows = out.collect()
    assert len(rows) == 1
    c = rows[0]
    curated = [m.curated for m in c.members]
    # M2 rescued via its db5 label, ranked 900 → first; M3 dropped entirely
    assert curated == ["rescuedlabel", "goodname"]
    assert c.members[0].rank == 900 and c.members[0].status == "taken"
    assert c.members[1].rank == 50 and c.members[1].status is None
    assert c.rank == 7  # collection qrank (J7)
    assert c.name == "Things"  # curate_name of article
    # "Wikimedia category" description is suppressed (create_merged.py:432)
    assert c.description is None
    assert [t.id for t in c.types] == ["T1"] and c.types[0].label == "thing"


def test_image_urls_unquoted(spark):
    db5 = spark.createDataFrame(
        [
            ("Q1", "Things", None,
             ["Flag%20of%20France.svg", "plus+sign.png", "bad%zz.png",
              "Flag%20of%zz.svg", "bad%FFbyte.png"],
             ["Banner%2C_big.jpg"]),
            ("T1", "thing", None, None, None),
        ],
        "id string, label string, description string,"
        " image array<string>, page_banner array<string>",
    )
    validated = spark.createDataFrame(
        [("Q1", ["T1"], "Category:Things", [], 0, 0)],
        "item string, type array<string>, article string,"
        " members array<struct<qid:string,title:string>>,"
        " valid_members_count bigint, invalid_members_count bigint",
    )
    qrank = spark.createDataFrame([], "id string, rank bigint")
    domains = spark.createDataFrame([], "name string, status string")
    c = enrich_collections(
        validated, db5, qrank, domains, _no_titles(spark)
    ).collect()[0]
    # urllib.parse.unquote semantics: %20 decodes, '+' survives, malformed
    # % passes through as a literal even when valid escapes surround it,
    # and invalid-UTF-8 escapes become U+FFFD — all matching Python.
    from urllib.parse import unquote

    expected_raw = [
        "Flag%20of%20France.svg", "plus+sign.png", "bad%zz.png",
        "Flag%20of%zz.svg", "bad%FFbyte.png",
    ]
    assert c.image == [unquote(u) for u in expected_raw]
    assert c.page_banner == ["Banner,_big.jpg"]


def test_member_rank_defaults_zero(spark):
    qrank = spark.createDataFrame([], "id string, rank bigint")
    domains = spark.createDataFrame([], "name string, status string")
    rows = enrich_members(_validated(spark), _db5(spark), qrank, domains).collect()
    assert all(r.member.rank == 0 for r in rows)


def test_keywords_from_mapping_titles(spark):
    """J10: every title of the collection's QID (redirects included),
    curated with curate_name, sorted, minus the collection's own name."""
    validated = spark.createDataFrame(
        [
            ("Q1", [], "Category:Things", [], 0, 0),
            ("Q2", [], "Category:Empty", [], 0, 0),
        ],
        "item string, type array<string>, article string,"
        " members array<struct<qid:string,title:string>>,"
        " valid_members_count bigint, invalid_members_count bigint",
    )
    titles = spark.createDataFrame(
        [
            ("Q1", "Category:Things"),  # the primary title: its own name
            ("Q1", "apple_pie"),
            ("Q1", "List of zebras"),  # a redirect title
            ("Q9", "Leaked one"),  # Q9 is not a collection
        ],
        "qid string, title string",
    )
    db5 = spark.createDataFrame(
        [], "id string, label string, description string,"
        " image array<string>, page_banner array<string>"
    )
    qrank = spark.createDataFrame([], "id string, rank bigint")
    domains = spark.createDataFrame([], "name string, status string")
    out = {
        r.item: r
        for r in enrich_collections(validated, db5, qrank, domains, titles).collect()
    }
    assert set(out) == {"Q1", "Q2"}
    assert out["Q1"].name == "Things"
    assert out["Q1"].keywords == ["Apple pie", "Zebras"]
    assert out["Q2"].keywords == []
