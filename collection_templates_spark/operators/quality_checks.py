"""Data-quality checks: the expectations layer a training-data pipeline
runs before trusting a corpus drop.

Each check compiles to one aggregate expression; ``run_checks`` evaluates a
whole suite in a SINGLE pass over the table (one job, map-side combined)
and returns a tidy report frame (check, column, metric, ok). Referential
integrity is the only check needing a second table (anti-join count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_checks(
    df: DataFrame,
    not_null: tuple[str, ...] = (),
    unique: tuple[str, ...] = (),
    accepted_values: dict[str, tuple] | None = None,
    max_null_ratio: float = 0.0,
) -> DataFrame:
    """Evaluate all checks in one aggregation; returns
    (check, column, metric double, ok boolean) rows.

    Fully in-plan (r16, guide §5.3): the one-row aggregate is unpivoted
    with explode(array(struct…)) instead of a ``.collect()[0]`` +
    driver-side ``createDataFrame`` — the report is one job at action
    time, with no serialized driver round-trip. Same rows, same IEEE
    double arithmetic as the old driver loop."""
    aggs = [F.count("*").alias("___n")]
    for c in not_null:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nn__{c}"))
    for c in unique:
        aggs.append(F.countDistinct(c).alias(f"uq__{c}"))
        aggs.append(F.count(c).alias(f"cnt__{c}"))
    for c, vals in (accepted_values or {}).items():
        aggs.append(
            F.sum((~F.col(c).isin(*vals) & F.col(c).isNotNull()).cast("long")).alias(
                f"av__{c}"
            )
        )

    def _res(check: str, col: str, metric: F.Column, ok: F.Column) -> F.Column:
        return F.struct(
            F.lit(check).alias("check"),
            F.lit(col).alias("column"),
            metric.cast("double").alias("metric"),
            ok.alias("ok"),
        )

    results: list[F.Column] = []
    for c in not_null:
        ratio = F.coalesce(F.col(f"nn__{c}"), F.lit(0)).cast(
            "double"
        ) / F.greatest(F.col("___n"), F.lit(1)).cast("double")
        results.append(
            _res("not_null", c, ratio, ratio <= F.lit(max_null_ratio))
        )
    for c in unique:
        dupes = F.coalesce(F.col(f"cnt__{c}"), F.lit(0)) - F.coalesce(
            F.col(f"uq__{c}"), F.lit(0)
        )
        results.append(_res("unique", c, dupes, dupes == 0))
    for c in (accepted_values or {}):
        bad = F.coalesce(F.col(f"av__{c}"), F.lit(0))
        results.append(_res("accepted_values", c, bad, bad == 0))

    if not results:
        # explode(array()) over no checks is an array<null> and fails analysis
        return df.sparkSession.createDataFrame(
            [], "check string, column string, metric double, ok boolean"
        )
    return (
        df.agg(*aggs)
        .select(F.explode(F.array(*results)).alias("___r"))
        .select("___r.*")
    )


def referential_integrity(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """Orphan count: child keys with no parent (anti-join) — in-plan
    (r16, guide §5.3): the count is a 1-row aggregate projected into
    the report shape, not a driver ``.count()`` + createDataFrame."""
    return (
        child.select(F.col(child_key).alias("k"))
        .filter(F.col("k").isNotNull())
        .join(
            parent.select(F.col(parent_key).alias("k")).distinct(), "k", "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("___o"))
        .select(
            F.lit("referential_integrity").alias("check"),
            F.lit(child_key).alias("column"),
            F.col("___o").cast("double").alias("metric"),
            (F.col("___o") == 0).alias("ok"),
        )
    )
