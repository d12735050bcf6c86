"""Persisted cache tables (Opt-6 across runs) + data-quality checks."""

from pyspark.sql import functions as F

from collection_templates_spark.operators.cache_tables import (
    apply_cached,
    refresh_cache,
)
from collection_templates_spark.operators.quality_checks import (
    referential_integrity,
    run_checks,
)


def test_refresh_cache_incremental(spark, tmp_path):
    path = str(tmp_path / "cache")
    compute = lambda key: F.upper(key)  # noqa: E731 — stand-in for a UDF

    run1 = spark.createDataFrame([("a",), ("b",), ("a",)], "k string")
    c1 = refresh_cache(spark, path, run1, "k", compute)
    assert {(r.key, r.value) for r in c1.collect()} == {("a", "A"), ("b", "B")}

    # second run: only the new key is computed; old entries survive
    run2 = spark.createDataFrame([("b",), ("c",)], "k string")
    c2 = refresh_cache(spark, path, run2, "k", compute)
    assert {(r.key, r.value) for r in c2.collect()} == {
        ("a", "A"), ("b", "B"), ("c", "C"),
    }

    out = apply_cached(run2, c2, "k", "v")
    assert {(r.k, r.v) for r in out.collect()} == {("b", "B"), ("c", "C")}

    # the refresh only appends: a frame read before it still works, and
    # no temporary copy of the cache is left behind
    assert {(r.key, r.value) for r in c1.collect()} == {("a", "A"), ("b", "B")}
    assert sorted(p.name for p in tmp_path.iterdir()) == ["cache"]

    # known keys only: nothing is added, every key stays unique
    c3 = refresh_cache(spark, path, run1.unionByName(run2), "k", compute)
    keys = [r.key for r in c3.collect()]
    assert sorted(keys) == ["a", "b", "c"]


def test_run_checks(spark):
    df = spark.createDataFrame(
        [(1, "O"), (2, "F"), (2, "X"), (None, "O")],
        "id int, status string",
    )
    rep = {(r.check, r.column): (r.metric, r.ok) for r in run_checks(
        df,
        not_null=("id",),
        unique=("id",),
        accepted_values={"status": ("O", "F", "P")},
    ).collect()}
    assert rep[("not_null", "id")] == (0.25, False)
    assert rep[("unique", "id")] == (1.0, False)  # one duplicate (2)
    assert rep[("accepted_values", "status")] == (1.0, False)  # 'X'


def test_run_checks_without_checks_is_empty_report(spark):
    df = spark.createDataFrame([(1, "O")], "id int, status string")
    rep = run_checks(df)
    assert [(f.name, f.dataType.simpleString()) for f in rep.schema] == [
        ("check", "string"), ("column", "string"),
        ("metric", "double"), ("ok", "boolean"),
    ]
    assert rep.collect() == []


def test_referential_integrity(spark):
    child = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    row = referential_integrity(child, "fk", parent, "pk").collect()[0]
    assert row.metric == 1.0 and not row.ok  # the orphan 9; null ignored
