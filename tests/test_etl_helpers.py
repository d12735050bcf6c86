"""The two helpers the collections ETL stages share:
``udfs.compute_on_distinct`` (compute once per distinct value, join back)
and ``scoring.ordered_list`` (the ordered-collect aggregate)."""

import random

from pyspark.sql import functions as F

from collection_templates_spark.functions.scoring import ordered_list
from collection_templates_spark.functions.udfs import compute_on_distinct


def test_compute_on_distinct(spark):
    df = spark.createDataFrame(
        [(1, "a", ("x",)), (2, "a", ("x",)), (3, "b", ("y",)), (4, None, (None,))],
        "id int, k string, m struct<curated:string>",
    )
    # random, so a second evaluation of the same key would show; it also
    # maps null to a value, which the null-key row must not receive
    tag = F.udf(lambda v: f"{v}-{random.random()}").asNondeterministic()

    out = compute_on_distinct(df, "k", tag, "out")
    assert out.columns == df.columns + ["out"]
    rows = {r.id: r.out for r in out.collect()}
    assert rows[4] is None  # null key → null output
    assert rows[1] == rows[2] and rows[1].startswith("a-")  # one shared result
    assert rows[3].startswith("b-")

    nested = compute_on_distinct(df, "m.curated", F.upper, "up")
    assert nested.columns == df.columns + ["up"]
    assert {r.id: r.up for r in nested.collect()} == {1: "X", 2: "X", 3: "Y", 4: None}


def test_ordered_list(spark):
    df = spark.createDataFrame(
        [
            ("g", "c", 1, 2),
            ("g", "a", 2, 1),
            ("g", "b", 1, 2),  # ties with "c" on both keys → value order
            ("g", None, 0, 0),  # null value → dropped
            ("g", "d", 1, 1),
            ("n", None, 1, 1),  # only null values → []
        ],
        "grp string, v string, k1 int, k2 int",
    )
    out = {
        r.grp: r.vs
        for r in df.groupBy("grp")
        .agg(ordered_list(F.col("v"), F.col("k1"), F.col("k2")).alias("vs"))
        .collect()
    }
    assert out == {"g": ["d", "b", "c", "a"], "n": []}
