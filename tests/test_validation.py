"""Ontology-closure validation (J13): chain, diamond, cycle, same_as."""

from pyspark.sql import functions as F

from collection_templates_spark.operators.graph import reachable_from
from collection_templates_spark.operators.validation import (
    subclass_edges,
    validate_members,
)


def _db2(spark, rows):
    return spark.createDataFrame(
        rows, "id string, instance_of array<string>, subclass_of array<string>"
    )


def _db6(spark, rows):
    return spark.createDataFrame(rows, "id string, same_as string")


def test_reachability_chain_diamond_cycle(spark):
    # chain: A->B->C->D->E ; diamond: X->{L,R}->Y ; cycle: C1<->C2->T
    edges_rows = [
        ("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"),
        ("X", "L"), ("X", "R"), ("L", "Y"), ("R", "Y"),
        ("C1", "C2"), ("C2", "C1"), ("C2", "T"),
    ]
    edges = spark.createDataFrame(edges_rows, "src string, dst string")
    targets = spark.createDataFrame([("E",), ("Y",), ("T",)], "t string")
    reach = {(r.seed, r.node) for r in
             reachable_from(edges, targets, src="dst", dst="src").collect()}
    assert ("E", "A") in reach  # depth-4 chain
    assert ("Y", "X") in reach  # diamond (once, via distinct)
    assert ("T", "C1") in reach  # through the cycle, terminates
    assert ("E", "X") not in reach


def _redirect_case(spark):
    # collection CAT of type T; members M1 (instance_of A, A->..->T via chain)
    # M2 (instance_of Z, unrelated), M3 redirects to M1's class
    db2 = _db2(spark, [
        ("A", [], ["B"]), ("B", [], ["T"]),
        ("Z", [], []),
        ("M1", ["A"], []), ("M2", ["Z"], []),
    ])
    db6 = _db6(spark, [("M3", "M1")])
    resolved = spark.createDataFrame(
        [
            ("category", "Q100", ["T"], "Category:Things", "M1", "One"),
            ("category", "Q100", ["T"], "Category:Things", "M2", "Two"),
            ("category", "Q100", ["T"], "Category:Things", "M3", "Three"),
        ],
        "mode string, item string, type array<string>, article string,"
        " member_qid string, member_title string",
    )
    return resolved, db2, db6


def test_validate_members_with_redirect(spark):
    resolved, db2, db6 = _redirect_case(spark)
    out = validate_members(resolved, db2, db6).collect()
    assert len(out) == 1
    row = out[0]
    titles = sorted(m.title for m in row.members)
    assert titles == ["One", "Three"]  # M3 valid via same_as redirect
    assert row.valid_members_count == 2
    assert row.invalid_members_count == 1


def test_validate_members_without_self_join_resolution(spark):
    """The member-to-type semi-join must name its keys on both sides: with
    Spark's self-join auto-resolution off, a predicate built from the shared
    ``member_qid`` attribute folds to true and validates every member."""
    conf = "spark.sql.selfJoinAutoResolveAmbiguity"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        resolved, db2, db6 = _redirect_case(spark)
        [row] = validate_members(resolved, db2, db6).collect()
    finally:
        spark.conf.set(conf, before)
    assert row.valid_members_count == 2
    assert row.invalid_members_count == 1


def test_validate_members_keyed_by_mode(spark):
    """One QID that is a collection in both modes, with disjoint members,
    gives one row per mode with that mode's own members and counts."""
    db2 = _db2(spark, [
        ("A", [], ["T"]),
        ("M1", ["A"], []), ("M2", ["Z"], []),
        ("M3", ["T"], []), ("M4", ["A"], []), ("M5", ["Z"], []),
    ])
    resolved = spark.createDataFrame(
        [
            ("category", "Q7", ["T"], "Category:Things", "M1", "One"),
            ("category", "Q7", ["T"], "Category:Things", "M2", "Two"),
            ("list", "Q7", ["T"], "Category:Things", "M3", "Three"),
            ("list", "Q7", ["T"], "Category:Things", "M4", "Four"),
            ("list", "Q7", ["T"], "Category:Things", "M5", "Five"),
        ],
        "mode string, item string, type array<string>, article string,"
        " member_qid string, member_title string",
    )
    db6 = _db6(spark, [])
    out = {r.mode: r for r in validate_members(resolved, db2, db6).collect()}
    assert set(out) == {"category", "list"}
    assert all(r.item == "Q7" for r in out.values())
    cat, lst = out["category"], out["list"]
    assert [m.qid for m in cat.members] == ["M1"]
    assert (cat.valid_members_count, cat.invalid_members_count) == (1, 1)
    assert sorted(m.qid for m in lst.members) == ["M3", "M4"]
    assert (lst.valid_members_count, lst.invalid_members_count) == (2, 1)


def test_typeless_collection_dropped(spark):
    db2 = _db2(spark, [("M1", ["A"], [])])
    resolved = spark.createDataFrame(
        [("list", "Q1", ["Q13406463"], "List_of_x", "M1", "One")],
        "mode string, item string, type array<string>, article string,"
        " member_qid string, member_title string",
    )
    assert validate_members(resolved, db2, _db6(spark, [])).count() == 0  # P10


def test_same_as_edge_only_for_missing_nodes(spark):
    # node A IS in db2 (with no subclass_of) → redirect must NOT apply
    db2 = _db2(spark, [("A", [], []), ("B", [], ["T"])])
    db6 = _db6(spark, [("A", "B")])
    edges = subclass_edges(db2, db6)
    rows = {(r.src, r.dst) for r in edges.collect()}
    assert ("A", "B") not in rows  # reference: KeyError-only fallback
