"""The query bank's registry: each row is a module function named after
its ``ORACLE_SQL`` key, and the order the external driver samples rows
in is derived from its committed ``CORRECTNESS_r*.json`` history. No
Spark session needed."""

import hashlib

import __spark_entry__ as entry
from collection_templates_spark.plans import testdata_queries as tq

# sha256 of "\n".join(sorted(QUERIES)): the bank benchmark samples from
# the sorted names, so a change to the set changes a workload.
SORTED_NAMES_SHA256 = (
    "9399a67319f364b1c5089c68b8d4eb54fe52e450644d93cf09a1719b99fd47d3"
)

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "err": None}


def _red(**fields):
    return {**GREEN, **fields}


def test_external_order():
    names = ["a", "b", "c", "d", "e", "f", "g"]
    history = {
        3: {"b": GREEN, "d": GREEN, "f": _red(hash_match=False),
            "g": GREEN, "gone": GREEN},
        5: {"b": _red(err="spark: boom"), "c": GREEN},
    }
    # never checked (a, e), then latest check red (b: green in r3 but red
    # in r5; f), then green by last round, oldest first (d and g in r3,
    # c in r5); every tie keeps the order of ``names``
    assert tq.external_order(names, history) == [
        "a", "e", "b", "f", "d", "g", "c"
    ]
    assert tq.external_order(names, {}) == names


def test_history_is_the_committed_records():
    history = tq._external_history()
    assert history and all(isinstance(r, int) for r in history)
    for recs in history.values():
        for rec in recs.values():
            tq._green(rec)  # every record has the driver's four fields


def test_rows_are_their_oracles():
    queries = entry.queries()
    assert set(queries) == set(entry.oracle_sql())
    for name, fn in queries.items():
        assert fn.__name__ == name and fn.__module__ == tq.__name__


def test_row_names_pinned():
    digest = hashlib.sha256("\n".join(sorted(tq.QUERIES)).encode())
    assert digest.hexdigest() == SORTED_NAMES_SHA256
