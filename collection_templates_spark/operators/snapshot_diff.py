"""Incremental snapshot diff → upsert operations (SURVEY §2.9).

Reference: airflow/dags/update_es.py:249-313 ``produce_update_operations`` —
the current run is full-outer-joined with the previous snapshot by id and
routed to insert / update / archive / noop. Hash-diff (D2) compares sha256
over canonical JSON of COMPARING_FIELDS (:27, :98-104). The reference's
random ES ids + 409-retry loop (F16, :316-358) are replaced by the
deterministic wikidata id (SURVEY §7 step 7), which also makes the sink
idempotent under Spark task retries.

Scale: one full-outer sort-merge join on id + a map-side hash — the diff
cost is O(|current| + |previous|) regardless of how few docs changed.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# update_es.py:27-29
COMPARING_FIELDS = ("data", "template", "metadata.members_count",
                    "metadata.collection_name_log_probability")
MAX_MEMBERS = 10_000  # P11: oversize-collection gate (update_es.py:139-141)


@F.pandas_udf(StringType())
def canonical_hash_udf(js: pd.Series) -> pd.Series:
    """sha256 over canonical (sorted-keys) JSON — field order independent,
    reproducing the reference's json.dumps(value, sort_keys=True) hashing
    (update_es.py:98-104)."""

    def h(v):
        if v is None:
            return None
        obj = json.loads(v)
        parts = [
            hashlib.sha256(
                json.dumps(obj.get(f.split(".")[-1]), sort_keys=True).encode()
            ).hexdigest()
            for f in COMPARING_FIELDS
        ]
        return hashlib.sha256("|".join(parts).encode()).hexdigest()

    return js.map(h)


def _with_state_hash(docs: DataFrame) -> DataFrame:
    compare = F.to_json(
        F.struct(
            F.col("data"),
            F.col("template"),
            F.col("metadata.members_count").alias("members_count"),
            F.col("metadata.collection_name_log_probability").alias(
                "collection_name_log_probability"
            ),
        )
    )
    return docs.withColumn("___hash", canonical_hash_udf(compare))


def produce_update_operations(
    current: DataFrame, previous: DataFrame | None
) -> DataFrame:
    """(id, op) rows: op ∈ insert | update | archive | noop.

    Documents with members_count > 10k never produce insert/update ops
    (P11); archives are collections present previously but absent now (D4).
    """
    current = current.filter(F.col("metadata.members_count") <= MAX_MEMBERS)
    cur = _with_state_hash(current).select(
        F.col("metadata.id").alias("id"), F.col("___hash").alias("cur_hash")
    )
    if previous is None:
        return cur.select("id", F.lit("insert").alias("op"))
    prev = _with_state_hash(previous).select(
        F.col("metadata.id").alias("id"), F.col("___hash").alias("prev_hash")
    )
    j = cur.join(prev, "id", "full_outer")
    return j.select(
        "id",
        F.when(F.col("prev_hash").isNull(), "insert")
        .when(F.col("cur_hash").isNull(), "archive")
        .when(F.col("cur_hash") != F.col("prev_hash"), "update")
        .otherwise("noop")
        .alias("op"),
    )


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    op_col: str = "op",
    delete_op: str = "archive",
) -> DataFrame:
    """Apply a CDC change stream to a base table — MERGE INTO /
    SCD-type-1 semantics as ONE full-outer join: a matched non-delete
    change overwrites the row (update), an unmatched change inserts,
    a ``delete_op`` change removes the row, and base rows without a
    change pass through. The complement of
    :func:`produce_update_operations` (which DERIVES the ops); together
    they are the reference's update_es delta cycle as pure relational
    ops (reference: airflow/dags/update_es.py:249-313).

    ``changes`` carries the same payload columns as ``base`` plus
    ``op_col``; at most one change per key is the caller contract
    (dedup upstream — e.g. window_dedup_keep_first — exactly as any
    MERGE requires a unique source).

    Scale: one key-keyed full-outer join — always a shuffle, since
    Spark cannot broadcast any side of a full-outer join (the plan test
    pins the FullOuter sort-merge join) — and pure column expressions:
    no window, no driver state. Copy-on-write table formats implement
    exactly this plan under their MERGE.
    """
    payload = [c for c in base.columns if c != key_col]
    j = base.alias("b").join(changes.alias("c"), key_col, "full_outer")
    is_change = F.col(f"c.{op_col}").isNotNull()
    kept = j.filter(~is_change | (F.col(f"c.{op_col}") != delete_op))
    return kept.select(
        F.col(key_col),
        *[
            F.when(is_change, F.col(f"c.{x}"))
            .otherwise(F.col(f"b.{x}"))
            .alias(x)
            for x in payload
        ],
    )
