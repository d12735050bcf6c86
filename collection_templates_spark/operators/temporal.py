"""Temporal joins Spark lacks as built-ins: as-of join and banded range join.

The reference has neither (all its joins are string equi-joins, SURVEY
§2.3), but any event-log/training-data pipeline needs them. Both are
implemented as compositions of built-in operators with scale-correct
shuffles — no broadcast-nested-loop, no theta join:

- ``as_of_join``: the sort-merge trick — union both streams tagged, one
  window pass per key carries the latest right-side row forward. Cost: one
  shuffle of (left + right) on the key, one sort. This is how kdb/Flink
  do it, re-expressed in DataFrame ops.
- ``range_join_binned``: the band-join trick — right rows land in
  fixed-width time bins, left rows explode to the bins their window
  overlaps, the join is an equi-join on (key, bin) and the exact predicate
  filters inside the bucket. Cost: |right| + |left|·(window/bin + 1) rows
  shuffled on uniform keys, vs |left|·|right| for the naive theta join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from collection_templates_spark.functions.scoring import ordered_list


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str = "ts",
    right_time: str = "ts",
    right_value_cols: tuple[str, ...] = (),
    suffix: str = "_asof",
) -> DataFrame:
    """For every left row, attach the latest right row with
    right_time <= left_time for the same key (backward as-of; null when no
    prior right row exists).

    Ties at identical timestamps resolve right-before-left (the right row
    IS visible to a left row with the same timestamp). Multiple right rows
    sharing the same (key, right_time) resolve deterministically to the
    greatest (right_time, *right_value_cols) tuple: the carry window orders
    by the right-row struct itself, giving a total order without needing a
    caller-supplied tie-break column.
    """
    lt = F.col(left_time)
    tagged_l = left.select(
        F.col(on).alias("___k"),
        lt.alias("___t"),
        F.lit(1).alias("___side"),  # left sorts after right at equal ts
        F.struct(*[F.col(c) for c in left.columns]).alias("___lrow"),
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(
                f"{c}:{dict(right.dtypes)[c]}"
                for c in ((right_time,) + tuple(right_value_cols))
            )
            + ">"
        )
        .alias("___rrow"),
    )
    tagged_r = right.select(
        F.col(on).alias("___k"),
        F.col(right_time).alias("___t"),
        F.lit(0).alias("___side"),
        F.lit(None).cast(tagged_l.schema["___lrow"].dataType.simpleString()).alias(
            "___lrow"
        ),
        F.struct(
            *[F.col(c) for c in ((right_time,) + tuple(right_value_cols))]
        ).alias("___rrow"),
    )
    unioned = tagged_l.unionByName(tagged_r)
    # ___rrow as the final sort key totally orders right rows that share a
    # timestamp (struct comparison is field-wise); left rows all carry null
    # there and only read, so their relative order is irrelevant.
    w = (
        Window.partitionBy("___k")
        .orderBy("___t", "___side", "___rrow")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "___last_r", F.last("___rrow", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("___side") == 1).select(
        F.col("___lrow.*"),
        *[
            F.col(f"___last_r.{c}").alias(f"{c}{suffix}")
            for c in ((right_time,) + tuple(right_value_cols))
        ],
    )
    return out


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    lower_seconds: float,
    upper_seconds: float,
    bin_seconds: float | None = None,
) -> DataFrame:
    """All (left, right) pairs with same key and
    left_time + lower <= right_time <= left_time + upper.

    Implemented as an equi-join on (key, time-bin): right rows map to their
    bin; left rows explode to every bin their window can overlap; the exact
    range predicate filters within buckets. Output columns: all left columns
    (prefixed l_) struct + all right columns (prefixed r_) struct to avoid
    collisions — callers select what they need.
    """
    if bin_seconds is None:
        bin_seconds = max(upper_seconds - lower_seconds, 1.0)
    # All arithmetic in integer microseconds: no fp boundary ambiguity.
    # Floor-division is (a − pmod(a, d)) / d computed in DECIMAL — the
    # numerator is an exact multiple of d and decimal division of a
    # 38-digit integer by an int is exact, so bin assignment is genuine
    # integer arithmetic for ANY |us| (Column `/` on longs is a double
    # division whose precision erodes past 2^53; `div` truncates toward
    # zero, wrong for pre-epoch timestamps).
    bin_us = int(bin_seconds * 1_000_000)
    lower_us = int(lower_seconds * 1_000_000)
    upper_us = int(upper_seconds * 1_000_000)

    def _floordiv(col, d: int):
        num = (col - F.pmod(col, F.lit(d))).cast("decimal(38,0)")
        return (num / F.lit(d)).cast("long")

    lus = F.unix_micros(F.col(left_time))
    rus = F.unix_micros(F.col(right_time))

    r = right.select(
        F.col(on).alias("___k"),
        _floordiv(rus, bin_us).alias("___bin"),
        F.struct(*[F.col(c) for c in right.columns]).alias("r"),
    )
    lo_bin = _floordiv(lus + lower_us, bin_us)
    hi_bin = _floordiv(lus + upper_us, bin_us)
    l = left.select(
        F.col(on).alias("___k"),
        F.explode(F.sequence(lo_bin, hi_bin)).alias("___bin"),
        F.struct(*[F.col(c) for c in left.columns]).alias("l"),
    )
    joined = l.join(r, ["___k", "___bin"])
    lt = F.unix_micros(F.col(f"l.{left_time}"))
    rt = F.unix_micros(F.col(f"r.{right_time}"))
    return joined.filter(
        (rt >= lt + F.lit(lower_us)) & (rt <= lt + F.lit(upper_us))
    ).select("l", "r")


def gap_fill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Resample an event stream onto a dense per-key daily grid with
    forward-fill (the time-series gap-fill / LOCF operator — TimescaleDB's
    ``time_bucket_gapfill`` + ``locf``, InfluxDB's ``fill(previous)``).
    The reference has no time dimension at all; this is part of the
    event-analytics extension surface next to :func:`as_of_join`.

    Per key: the last observation of each calendar day (latest
    ``order_cols`` wins — a total order, so the pick is deterministic),
    a dense day grid spanning [first_day, last_day] via ``sequence``,
    and a forward-fill window (``last(..., ignorenulls=True)`` over an
    unbounded-preceding frame). Output: one row per (key, day) with the
    observed value (NULL on gap days), the filled value (never NULL —
    the first grid day is an observed day by construction), and an
    ``is_observed`` flag.

    Scale: two shuffles — the per-(key, day) reduce and the per-key
    window; grid size is keys × days (linear in keys, never in events),
    and the sequence explode happens AFTER the reduce, on the tiny
    per-key span table. No driver-side state.
    """
    day = F.col(ts_col).cast("date").alias("day")
    w_pick = Window.partitionBy(key_col, "day").orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    obs = (
        events.select(key_col, day, *order_cols, value_col)
        .withColumn("___rn", F.row_number().over(w_pick))
        .filter(F.col("___rn") == 1)
        .select(key_col, "day", F.col(value_col).alias("obs_value"))
    )
    span = obs.groupBy(key_col).agg(
        F.min("day").alias("___d0"), F.max("day").alias("___d1")
    )
    grid = span.select(
        key_col, F.explode(F.sequence("___d0", "___d1")).alias("day")
    )
    w_fill = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, [key_col, "day"], "left")
        .withColumn(
            "filled_value", F.last("obs_value", ignorenulls=True).over(w_fill)
        )
        .withColumn("is_observed", F.col("obs_value").isNotNull().cast("int"))
    )


def trailing_zscore(
    events: DataFrame,
    part_col: str = "event_type",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    window: int = 20,
    min_n: int = 5,
    threshold: float = 2.0,
) -> DataFrame:
    """Trailing-window z-score anomaly flags: each value is compared to
    the mean/stddev of the previous ``window`` rows of its partition
    (frame EXCLUDES the current row — the classic control-chart
    baseline; including it would let an outlier mask itself). Rows with
    fewer than ``min_n`` predecessors get a NULL score (cold start).

    Determinism: ``order_cols`` must be a total order within
    ``part_col``; mean and stddev are rounded to 6dp BEFORE the z
    arithmetic in both engines so frame-summation order can't flip the
    flag (same convention as window_range_moving_sum).

    Scale: ONE shuffle (the partition window); the frame is bounded at
    ``window`` rows so state per task is O(window), and a skewed
    partition column rides AQE — for a single giant partition, salt by
    coarse time bucket first (the frame crosses salt boundaries only
    for the first ``window`` rows per salt).
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-window, -1)
    )
    n_prev = F.count(value_col).over(w)
    mu = F.round(F.avg(value_col).over(w), 6)
    sigma = F.round(F.stddev_samp(value_col).over(w), 6)
    z = F.when(
        (n_prev >= F.lit(min_n)) & (sigma > 0),
        F.round((F.col(value_col) - mu) / sigma, 6),
    )
    return (
        events.withColumn("n_prev", n_prev.cast("long"))
        .withColumn("mu", F.when(n_prev >= F.lit(min_n), mu))
        .withColumn("sigma", F.when(n_prev >= F.lit(min_n), sigma))
        .withColumn("z", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(
                (F.abs(F.col("z")) >= F.lit(threshold)).cast("int"), F.lit(0)
            ),
        )
    )


def state_islands(
    events: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Collapse consecutive equal states per key into validity
    intervals — the gaps-and-islands pattern / the build step of a
    type-2 slowly-changing dimension: one output row per RUN of equal
    ``state_col`` values in ``order_cols`` order, with
    ``valid_from`` (first event of the run), ``valid_to`` (start of the
    NEXT run, NULL for the key's current open state), ``last_seen``
    (last event inside the run) and the run's event count.

    Determinism: ``order_cols`` must be a total order within the key
    (the repo convention — (ts, event_id) is unique); the island id is
    a running sum of change flags over an explicit ROWS frame, so ties
    can never regroup rows.

    Scale: ONE shuffle (everything — the lag, the running sum, the
    island aggregate, and the lead — partitions by ``key_col``; Spark
    plans a single Exchange and sorts once). State per task is O(1)
    beyond the sort. The reference's snapshot diff tracks identity
    changes between two snapshots (update_es.py); this is the
    event-native generalization to full state HISTORY.
    """
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    chg = (
        F.lag(state_col).over(w).isNull()
        | (F.lag(state_col).over(w) != F.col(state_col))
    ).cast("int")
    isl = events.withColumn("___isl", F.sum(chg).over(w_run))
    g = isl.groupBy(F.col(key_col), F.col("___isl").alias("island")).agg(
        F.min(state_col).alias("state"),  # constant within the island
        F.min(ts_col).alias("valid_from"),
        F.max(ts_col).alias("last_seen"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy(key_col).orderBy("island")
    return g.select(
        key_col,
        F.col("island").cast("long").alias("island"),
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "last_seen",
        "n_events",
    )


def window_funnel(
    events: DataFrame,
    steps: tuple[str, ...],
    window_days: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel with a time window (ClickHouse's
    ``windowFunnel`` semantics, strict chaining from the FIRST step):
    a key reaches stage i when it has a ``steps[i]`` event STRICTLY
    after its stage-(i−1) timestamp and within ``window_days`` of its
    stage-1 anchor; each stage timestamp is the EARLIEST qualifying
    event. Output: one row per stage — (stage_idx, stage, n_users,
    conversion) with conversion = n_users / stage-1 users, 6dp.

    Plan: one type-filtered min-aggregate per stage plus an equi-join
    against the (shrinking) per-key frame of the previous stage — k−1
    user-keyed joins for a k-step funnel, each map-side-combined; the
    type filter pushes to the scan each pass. The stage summary is a
    ≤k-row frame; its conversion denominator rides a k-row window, not
    a collect. No window over the event stream itself, no per-key
    event-array materialization — state is O(1) per key per stage, the
    shape that survives a 100 TB event log.
    """
    win = F.expr(f"INTERVAL {int(window_days)} DAYS")
    first = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias("___t"))
    )
    stage_users = [first.select(key_col)]
    prev = first.select(
        key_col, F.col("___t").alias("___anchor"), F.col("___t").alias("___prev")
    )
    for s in steps[1:]:
        e = events.filter(F.col(type_col) == s).select(
            key_col, F.col(ts_col).alias("___ts")
        )
        nxt = (
            e.join(prev, key_col)
            .filter(
                (F.col("___ts") > F.col("___prev"))
                & (F.col("___ts") <= F.col("___anchor") + win)
            )
            .groupBy(key_col)
            .agg(
                F.min("___ts").alias("___t"),
                F.min("___anchor").alias("___anchor"),
            )
        )
        stage_users.append(nxt.select(key_col))
        prev = nxt.select(
            key_col, "___anchor", F.col("___t").alias("___prev")
        )
    summary = None
    for idx, (name, users) in enumerate(zip(steps, stage_users), start=1):
        row = users.agg(
            F.count(F.lit(1)).cast("long").alias("n_users")
        ).select(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_users",
        )
        summary = row if summary is None else summary.unionByName(row)
    w = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    denom = F.first("n_users").over(w).cast("double")
    return summary.withColumn(
        "conversion",
        F.round(F.col("n_users").cast("double") / denom, 6),
    )


def mad_anomalies(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Median-absolute-deviation anomaly detection over a keyed series:
    a point is anomalous when |x − median| > threshold · 1.4826 · MAD —
    the robust control chart (unlike :func:`trailing_zscore`'s
    mean/stddev, a single extreme day cannot inflate its own baseline,
    and breakdown needs >50 % contamination).

    Determinism: median and MAD are exact interpolated percentiles
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``), each rounded to
    6dp BEFORE the deviation compare; the robust score
    (x − med)/(1.4826·MAD) is rounded to 4dp. Groups with MAD = 0
    (constant series) flag nothing — documented, not an error.

    Scale shape: two per-group percentile aggregates over the (group,
    order) series table (bounded by group × order cardinality, not raw
    rows — callers pre-aggregate raw events to the series first) with
    the tiny (group, med, mad) table broadcast back. Output: the full
    series with (med, mad, score, is_anomaly).
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        F.col(part_col).alias("grp"),
        F.col(order_col).alias("t"),
        v.alias("v"),
    )
    med = base.groupBy("grp").agg(
        F.round(F.percentile(F.col("v"), F.lit(0.5)), 6).alias("med")
    )
    mad = (
        base.join(F.broadcast(med), "grp")
        .groupBy("grp")
        .agg(
            F.min("med").alias("med"),
            F.round(
                F.percentile(F.abs(F.col("v") - F.col("med")), F.lit(0.5)),
                6,
            ).alias("mad"),
        )
    )
    scaled = F.col("mad") * F.lit(1.4826)
    score = F.when(
        F.col("mad") > 0,
        F.round((F.col("v") - F.col("med")) / scaled, 4) + F.lit(0.0),
    )
    return (
        base.join(F.broadcast(mad), "grp")
        .withColumn("score", score)
        .withColumn(
            "is_anomaly",
            F.coalesce(
                (F.abs(F.col("score")) > F.lit(float(threshold))).cast(
                    "int"
                ),
                F.lit(0),
            ),
        )
        .select("grp", "t", "v", "med", "mad", "score", "is_anomaly")
    )


def cusum_changepoint(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM change-point summary per series: S_t = Σ_{i≤t} (x_i − x̄)
    (the cumulative sum of deviations from the series mean); the
    change-point estimate is the position maximizing |S_t| — the
    classic single-shift detector (Page 1954; Taylor's cumulative-sum
    change detection), the level-shift companion of the MAD outlier
    row.

    Determinism: values fold through DECIMAL(18,6), so BOTH the series
    total (for the mean) and every cumulative prefix sum are EXACT —
    no engine's summation association (left fold vs segment tree) can
    move them. S_t is then cum_t − t·x̄ with the mean rounded to 9dp
    (one exact-input product per row), S_t rounded to 6dp, and the
    argmax takes the EARLIEST position on ties. One row per group:
    (grp, n, mean_v, cp_t, cp_s_abs).

    Scale shape: one per-group mean aggregate broadcast back + ONE
    ordered cumulative window per group + a min_by argmax aggregate.
    The series table is bounded (group × time-bucket), not raw rows.
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        F.col(part_col).alias("grp"),
        F.col(order_col).alias("t"),
        v.cast("decimal(18,6)").alias("vd"),
    )
    mean_t = base.groupBy("grp").agg(
        F.round(
            F.sum("vd").cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("mean_v"),
        F.count(F.lit(1)).alias("n"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        base.join(F.broadcast(mean_t), "grp")
        .withColumn(
            "s",
            F.round(
                F.sum("vd").over(w).cast("double")
                - F.row_number()
                .over(Window.partitionBy("grp").orderBy("t"))
                .cast("double")
                * F.col("mean_v"),
                6,
            ),
        )
        .withColumn("s_abs", F.abs(F.col("s")))
    )
    return cum.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max("mean_v").alias("mean_v"),
        F.min_by(
            F.col("t"),
            F.struct(
                (-F.col("s_abs")).alias("neg_s"), F.col("t").alias("t")
            ),
        ).alias("cp_t"),
        F.round(F.max("s_abs"), 6).alias("cp_s_abs"),
    )


#: Block length for the EWMA scan re-anchoring. The naive dyadic
#: reparameterization u_i = x_i·2^{i−1} overflows double at i ≥ 1024;
#: restarting the exponent every EWMA_BLOCK rows keeps every term
#: ≤ |x|·2^511 (finite for any sane |x|) for UNBOUNDED series length.
EWMA_BLOCK = 512


def ewma_smoothing(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Exponentially-weighted moving average with α = 1/2 (s_1 = x_1,
    s_t = x_t/2 + s_{t−1}/2) — the recursive smoother re-expressed as
    BLOCK-ANCHORED cumulative-sum windows via the scan
    reparameterization. Within a block of B = :data:`EWMA_BLOCK` rows
    (local index e = (rn−1) mod B): u_i = x_i·2^{e_i} (the global first
    row keeps the s_1 = x_1 anchor, u_1 = 2x_1), so
    s_t = 2^{−(e_t+1)}·(Σ_{i≤t, same block} u_i + S_prev) where S_prev
    is the smoother value at the previous block boundary. S_prev is
    recovered WITHOUT a sequential carry: blocks decay by 2^{−B}, so
    S_prev = T_prev·2^{−B} with T_prev = lag(block total of u, B) —
    truncating contributions from two-or-more blocks back, an error
    < max|x|·2^{−513} (≈1e−150 for bounded inputs), i.e. exactly zero
    at the 4dp output round. Every non-final block has exactly B rows,
    so the lag lands in the previous block by construction.

    α is FIXED at the dyadic 1/2 deliberately: every weight is an exact
    power of two, so the reparameterized terms are exact double
    products, both engines' pow(2, n) is exact, and the only
    cross-engine exposure is last-ulp summation noise — killed by the
    4dp output round. (An arbitrary α puts irrational pow() values into
    every term — the exactness argument evaporates.) For other decay
    rates compose: applying the operator k times halves the effective
    half-life each pass. The block re-anchoring removes the former
    1024-row partition-length ceiling (u overflowed double → NaN tails);
    series of any length are now finite, and for series ≤ B rows the
    output is bit-identical to the single-scan form.

    Scale shape: ONE per-key window shuffle (row_number, both
    cumulative sums and the lag all share it — same partition keys and
    order); pure column arithmetic otherwise. Output: the series plus
    (rn, ewma).
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        F.col(part_col).alias("grp"),
        F.col(order_col).alias("t"),
        v.alias("v"),
    )
    b = EWMA_BLOCK
    w = Window.partitionBy("grp").orderBy("t")
    rn = F.row_number().over(w)
    base = (
        base.withColumn("rn", rn)
        .withColumn("___e", (F.col("rn") - 1) % b)
        .withColumn("___blk", F.floor((F.col("rn") - 1) / b))
    )
    u = F.when(F.col("rn") == 1, F.lit(2.0) * F.col("v")).otherwise(
        F.col("v") * F.pow(F.lit(2.0), F.col("___e").cast("double"))
    )
    wb = Window.partitionBy("grp", "___blk").orderBy("t")
    wc = wb.rowsBetween(Window.unboundedPreceding, 0)
    wt = wb.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        base.withColumn("___u", u)
        .withColumn("___c", F.sum("___u").over(wc))
        .withColumn("___t", F.sum("___u").over(wt))
        .withColumn(
            "___tprev",
            F.lag("___t", b).over(Window.partitionBy("grp").orderBy("t")),
        )
        .withColumn(
            "ewma",
            F.round(
                (
                    F.col("___c")
                    + F.coalesce(F.col("___tprev"), F.lit(0.0))
                    * F.pow(F.lit(2.0), F.lit(-float(b)))
                )
                / F.pow(
                    F.lit(2.0), F.col("___e").cast("double") + F.lit(1.0)
                ),
                4,
            ),
        )
        .select("grp", "t", "v", F.col("rn").cast("int").alias("rn"), "ewma")
    )


def ohlc_downsample(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Daily OHLC (open/high/low/close) downsampling of a keyed value
    stream — the financial-candle reduction, equally the standard
    compaction for any metric stream. Open/close are picked by the
    (ts, id) TUPLE order (min_by/max_by on a struct — total, so ties at
    identical timestamps resolve identically in any engine); high/low
    are plain extrema; volume is the row count and the day total is a
    DECIMAL-exact sum.

    Scale shape: ONE map-side-combined aggregate keyed on (key, day) —
    no window, no join, no sort. Output: (key, day, open, high, low,
    close, n_events, v_total).
    """
    us = F.unix_micros(F.col(ts_col))
    order_key = F.struct(us.alias("us"), F.col(id_col).alias("id"))
    v = F.col(value_col).cast("double")
    return (
        events.filter(v.isNotNull())
        .groupBy(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("date").alias("day"),
        )
        .agg(
            F.min_by(v, order_key).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order_key).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(v.cast("decimal(18,2)")).cast("double").alias("v_total"),
        )
    )


def autocorrelation(
    series: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Lag-k autocorrelation of a keyed daily series for k = 1..max_lag
    — the seasonality detector (a weekly cycle shows as an acf(7)
    spike). Uses the standard ACF estimator: deviations from the SERIES
    mean, lag-k cross products over the n−k overlapping pairs,
    normalized by the full-series sum of squares.

    Determinism: the mean comes from DECIMAL-exact sums rounded 9dp
    (the cusum convention); each cross product and squared deviation is
    rounded 9dp BEFORE its sum and the ratio to 6dp. The lag join is a
    calendar-day equi-join (date_add), so gap days simply produce no
    pair — stated semantics, identical in both engines.

    Scale shape: the series table is bounded (key × day); one mean
    aggregate broadcast back, one explode(lags) + self equi-join on
    (key, day+lag), one (key, lag) aggregate. Output: (key, lag,
    n_pairs, acf).
    """
    v = F.col(value_col).cast("double")
    base = series.filter(v.isNotNull()).select(
        F.col(part_col).alias("grp"),
        F.col(order_col).alias("t"),
        v.alias("v"),
        v.cast("decimal(18,6)").alias("vd"),
    )
    mean_t = base.groupBy("grp").agg(
        F.round(
            F.sum("vd").cast("double") / F.count(F.lit(1)).cast("double"), 9
        ).alias("m")
    )
    dev = base.join(F.broadcast(mean_t), "grp").select(
        "grp", "t", (F.col("v") - F.col("m")).alias("d")
    )
    denom = dev.groupBy("grp").agg(
        F.sum(F.round(F.col("d") * F.col("d"), 9)).alias("ss")
    )
    lags = dev.select(
        "grp", "t", "d",
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    )
    lead = dev.select(
        F.col("grp"), F.col("t").alias("t2"), F.col("d").alias("d2")
    )
    pairs = lags.join(
        lead,
        (lags["grp"] == lead["grp"])
        & (F.expr("date_add(t, lag)") == F.col("t2")),
    ).select(lags["grp"].alias("grp"), "lag", "d", "d2")
    num = pairs.groupBy("grp", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.round(F.col("d") * F.col("d2"), 9)).alias("cross"),
    )
    return (
        num.join(F.broadcast(denom), "grp")
        .select(
            "grp",
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.round(F.try_divide(F.col("cross"), F.col("ss")), 6).alias(
                "acf"
            ),
        )
    )


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union of (possibly overlapping) intervals per key — the classic
    interval-merge: order by start, open a new island whenever a start
    exceeds the running maximum of previous ends, aggregate each island
    to its span (uptime/coverage computation, sessionized-availability,
    calendar busy-time).

    Determinism: caller supplies integer endpoints (microseconds — the
    events-family convention); the island rule compares a start to the
    EXCLUSIVE-prefix cummax of ends over (start, end) order — a total
    order, integers only. Touching intervals (start == prev end) merge
    (closed-interval semantics, stated).

    Scale shape: ONE per-key window shuffle (the sort), then a
    map-side-combinable island aggregate. Output: (key, island_start,
    island_end, n_source_intervals).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(start_col).asc(), F.col(end_col).asc())
    )
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end)
    ).cast("int")
    islands = df.withColumn(
        "___isl",
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy(F.col(key_col).alias("key"), "___isl").agg(
        F.min(start_col).alias("island_start"),
        F.max(end_col).alias("island_end"),
        F.count(F.lit(1)).cast("long").alias("n_source_intervals"),
    ).drop("___isl")


def interval_coverage(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    half_width_minutes: int = 15,
) -> DataFrame:
    """Per-key activity coverage: each event claims a ±half_width
    window, overlapping windows union via :func:`merge_intervals`, and
    the key's coverage is the summed span of the merged islands — "how
    much wall-clock was this user active", the uptime/SLA shape.

    All arithmetic in integer microseconds. Output per key:
    (key, n_events, n_islands, covered_us, longest_island_us).
    """
    hw_us = half_width_minutes * 60 * 1_000_000
    us = F.unix_micros(F.col(ts_col))
    iv = events.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("k"),
        (us - hw_us).alias("s"),
        (us + hw_us).alias("e"),
    )
    merged = merge_intervals(iv, "k", "s", "e")
    return merged.groupBy(F.col("key")).agg(
        F.sum("n_source_intervals").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start"))
        .cast("long")
        .alias("covered_us"),
        F.max(F.col("island_end") - F.col("island_start"))
        .cast("long")
        .alias("longest_island_us"),
    )


def seasonal_decompose(
    series: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    period: int = 7,
    anchor: str = "2024-01-01",
) -> DataFrame:
    """Classical additive seasonal decomposition of a keyed daily
    series: trend = centered ``period``-day moving average (only where
    the window is complete), seasonal = the per-phase mean of the
    detrended values, residual = the rest — the STL-lite every metrics
    stack runs before alerting on "is Monday always like this".

    Determinism: trend means come from DECIMAL window sums divided by
    the exact window count, rounded 9dp; the phase index is
    ((datediff(t, anchor) % period) + period) % period — the portable
    weekday (both engines' % follows the dividend sign, hence the
    double fold); seasonal/residual round 6dp. Rows without a complete
    trend window are dropped (stated — the standard MA-decomposition
    edge loss of period//2 days each side).

    ``period`` must be ODD: the centered rowsBetween(−half, half) frame
    has 2·half+1 rows, which equals ``period`` only for odd periods (an
    even period would need the textbook 2×period double-MA — not
    implemented), so even values raise ValueError instead of silently
    averaging an off-center (period+1)-row frame.

    Scale shape: the series table is bounded (key × day); one per-key
    ordered window (trend), one (key, phase) aggregate broadcast back.
    Output: (grp, t, v, phase, trend, seasonal, residual).
    """
    if period % 2 != 1 or period < 1:
        raise ValueError(
            "seasonal_decompose requires an odd period >= 1 (a centered "
            f"{period}-row MA frame is impossible for even periods); got "
            f"period={period}"
        )
    half = period // 2
    v = F.col(value_col).cast("double")
    base = series.filter(v.isNotNull()).select(
        F.col(part_col).alias("grp"),
        F.col(order_col).alias("t"),
        v.alias("v"),
        v.cast("decimal(18,6)").alias("vd"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(-half, half)
    )
    trended = (
        base.withColumn("___n", F.count("vd").over(w))
        .withColumn(
            "trend",
            F.when(
                F.col("___n") == period,
                F.round(
                    F.sum("vd").over(w).cast("double")
                    / F.lit(float(period)),
                    9,
                ),
            ),
        )
        .filter(F.col("trend").isNotNull())
        .withColumn(
            "phase",
            (
                (
                    F.datediff(F.col("t"), F.lit(anchor).cast("date"))
                    % period
                )
                + period
            )
            % period,
        )
        .withColumn("detr", F.col("v") - F.col("trend"))
    )
    seasonal = trended.groupBy("grp", "phase").agg(
        F.round(
            F.sum(F.col("detr").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("seasonal")
    )
    return (
        trended.join(F.broadcast(seasonal), ["grp", "phase"])
        .select(
            "grp",
            "t",
            "v",
            F.col("phase").cast("int").alias("phase"),
            "trend",
            "seasonal",
            F.round(F.col("detr") - F.col("seasonal"), 6).alias("residual"),
        )
    )


def theil_sen_slope(
    series: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Theil–Sen robust trend estimate per key: the MEDIAN of all
    pairwise slopes (v_j − v_i)/(t_j − t_i) over the keyed daily
    series — the estimator with 29 % breakdown that one outlier day
    cannot drag (the OLS slope row's robust companion), plus the
    Theil–Sen intercept median(v − slope·t).

    Determinism: slopes are exact-input divisions rounded 9dp BEFORE
    the median; medians are exact interpolated percentiles
    (percentile ≡ quantile_cont) rounded 6dp; t is integer days from
    the first day of the series (datediff — integer-exact).

    Scale shape: the pair enumeration is a per-key self-join — O(d²)
    pairs per key where d is the series length (bounded: key×day, 150
    days → 11k pairs), never raw events. One join, two percentile
    aggregates. Output per key: (grp, n_days, slope, intercept).
    """
    v = F.col(value_col).cast("double")
    base = series.filter(v.isNotNull()).select(
        F.col(part_col).alias("grp"),
        F.col(order_col).alias("t"),
        v.alias("v"),
    )
    t0 = base.groupBy("grp").agg(F.min("t").alias("t0"))
    days = base.join(F.broadcast(t0), "grp").select(
        "grp",
        F.datediff(F.col("t"), F.col("t0")).cast("double").alias("d"),
        "v",
    )
    pairs = (
        days.alias("a")
        .join(
            days.alias("b"),
            (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .select(
            F.col("a.grp").alias("grp"),
            F.round(
                (F.col("b.v") - F.col("a.v"))
                / (F.col("b.d") - F.col("a.d")),
                9,
            ).alias("slope"),
        )
    )
    slopes = pairs.groupBy("grp").agg(
        F.round(F.percentile(F.col("slope"), F.lit(0.5)), 6).alias("slope")
    )
    resid = days.join(F.broadcast(slopes), "grp").groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.min("slope").alias("slope"),
        F.round(
            F.percentile(
                F.col("v") - F.col("slope") * F.col("d"), F.lit(0.5)
            ),
            6,
        ).alias("intercept"),
    )
    return resid.select("grp", "n_days", "slope", "intercept")


def rolling_quantile(
    series: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    q: float = 0.5,
    window_rows: int = 7,
) -> DataFrame:
    """Trailing-window exact quantile per key: for each row, the
    interpolated q-quantile of the last ``window_rows`` values (ROWS
    frame — the rolling median/p90 line on every monitoring chart,
    robust where the moving average is outlier-dragged).

    Determinism: exact (n−1)·q interpolation (Spark ``percentile`` ≡
    DuckDB ``quantile_cont`` — the repo-wide convention), rounded 6dp;
    the frame is a ROWS frame over a TOTAL order (order_col must be
    unique per key — the daily-series convention), so both engines see
    the identical window multiset.

    Scale shape: ONE per-key ordered window over the bounded series
    table (key×day, never raw events) — the sessionize shuffle
    profile. Output: (grp, t, v, rolling_q).
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    v = F.col(value_col).cast("double")
    return series.select(
        F.col(part_col).alias("grp"),
        F.col(order_col).alias("t"),
        v.alias("v"),
        (
            F.round(F.percentile(v, F.lit(float(q))).over(w), 6)
            + F.lit(0.0)
        ).alias("rolling_q"),
    )


def lttb_downsample(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    bucket_size: int = 10,
) -> DataFrame:
    """Triangle-based series downsampling, the PARALLEL variant of
    Steinarsson's Largest-Triangle-Three-Buckets (2013): split each
    group's series into fixed ``bucket_size`` buckets, keep the first
    and last point verbatim, and from every interior bucket keep the
    point with the largest triangle area against the NEIGHBOR BUCKET
    AVERAGES. True LTTB anchors on the previously SELECTED point — a
    sequential chain that cannot fan out; anchoring on bucket averages
    (the published "LTOB/LTTB-parallel" simplification) makes every
    bucket independent, which is the point at scale: ONE window pass,
    no iteration, same visual-fidelity intent.

    Determinism: x is the 1-based row_number (integer), y the exact
    group-day value; bucket averages are doubles of exact inputs;
    the area |(xa−xc)(y−ya) − (xa−x)(ya−yc)| is rounded 6dp before the
    (area DESC, x ASC) pick, the repo's round-before-rank rule.

    Scale shape: one row_number window per group (bounded series
    tables — the key×day convention), one bucket aggregate, two lag/
    lead windows over the BUCKET table (tiny), one join back, one
    top-1-per-bucket window. Output: (grp, ord, v, bucket) — the kept
    points, ordered.
    """
    w = Window.partitionBy("grp").orderBy("ord")
    pts = df.select(
        F.col(group_col).alias("grp"),
        F.col(order_col).alias("ord"),
        F.col(value_col).cast("double").alias("v"),
    ).withColumn("x", F.row_number().over(w).cast("double"))
    pts = pts.withColumn(
        "bucket", F.floor((F.col("x") - 1) / F.lit(bucket_size))
    )
    bstats = pts.groupBy("grp", "bucket").agg(
        F.avg("x").alias("bx"),
        F.avg("v").alias("by"),
        F.max("x").alias("max_x"),
    )
    wb = Window.partitionBy("grp").orderBy("bucket")
    nb = bstats.select(
        "grp",
        "bucket",
        F.lag("bx").over(wb).alias("xa"),
        F.lag("by").over(wb).alias("ya"),
        F.lead("bx").over(wb).alias("xc"),
        F.lead("by").over(wb).alias("yc"),
    )
    j = pts.join(nb, ["grp", "bucket"])
    area = F.round(
        F.abs(
            (F.col("xa") - F.col("xc")) * (F.col("v") - F.col("ya"))
            - (F.col("xa") - F.col("x")) * (F.col("ya") - F.col("yc"))
        ),
        6,
    )
    # boundary buckets keep their first (resp. last) point; interior
    # buckets rank by triangle area. The cases never mix within one
    # (grp, bucket) partition, so one DESC key per case suffices — no
    # magnitude sentinel (1e18 + x collapses in double precision).
    key = (
        F.when(F.col("xa").isNull(), -F.col("x"))  # first: min x wins
        .when(F.col("xc").isNull(), F.col("x"))  # last: max x wins
        .otherwise(area)
    )
    wr = Window.partitionBy("grp", "bucket").orderBy(
        F.desc("key"), F.asc("x")
    )
    return (
        j.withColumn("key", key)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("grp", "ord", "v", F.col("bucket").cast("long").alias("bucket"))
        .orderBy("grp", "ord")
    )


DTW_BIG = 10**15


def dtw_to_reference(
    series: DataFrame,
    grp_col: str,
    ord_col: str,
    cents_col: str,
    ref_cents: list[int],
    band_floor: int = 15,
) -> DataFrame:
    """Dynamic-time-warping distance from every group's ordered series
    to a (driver-held, bounded) reference series — the elastic
    similarity measure for time series whose features drift in phase
    (Sakoe & Chiba 1978); neither engine has a native operator for it.

    Semantics: classic DTW with unit steps (→, ↓, ↘) under a
    Sakoe–Chiba band of half-width max(band_floor, |n_a − n_b| + 5)
    (the adaptive widening keeps unequal-length pairs feasible);
    cost = |a_i − b_j| on integer-cent values, so the whole DP is
    EXACT int64 arithmetic — no float anywhere, both engines (and the
    recursive-CTE oracle) produce the identical integer distance.

    Per group the DP runs vectorized in numpy via the row recurrence
    rewritten as a prefix-scan: entering row i at column jp and
    running right to j costs pc[j] − pc[jp−1], so
    cur[j] = pc[j] + min_{jp ≤ j}(min(prev[jp], prev[jp−1]) − pc[jp−1])
    — one ``np.minimum.accumulate`` per row instead of an in-row
    loop. Out-of-band cells pin to the DTW_BIG sentinel (and are
    re-masked every row, so the sentinel never mixes into a real sum
    — the "no float sentinel in a sort key" rule's integer cousin).

    Scale shape: groups are independent — ``applyInPandas`` over the
    group key is the embarrassingly parallel axis (millions of
    bounded series, one DP each); the reference rides the closure
    (O(len) driver bytes). Output: (grp, n_a, n_b, dtw_cents) with
    the float presentation left to the CALLER's engine expressions
    (keeps Python banker's-rounding out of the contract).
    """
    import numpy as np
    import pandas as pd

    b = np.asarray(ref_cents, dtype=np.int64)
    nb = len(b)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ord_col)
        a = pdf[cents_col].to_numpy(dtype=np.int64)
        na = len(a)
        grp = pdf["grp"].iloc[0]
        w = max(band_floor, abs(na - nb) + 5)
        big = np.int64(DTW_BIG)
        # row 1: banded prefix sums of |a_1 - b_j| (1-indexed, [0] is
        # the j=0 guard)
        c1 = np.abs(a[0] - b)
        row1 = np.concatenate(([big], np.cumsum(c1)))
        row1[1 + w + 1 :] = big
        prev = row1
        for i in range(2, na + 1):
            lo, hi = max(1, i - w), min(nb, i + w)
            cost = np.abs(a[i - 1] - b[lo - 1 : hi])  # cols lo..hi
            pc = np.cumsum(cost)  # pc[k] = cost lo..lo+k
            # B[jp] = min(prev[jp], prev[jp-1]) for jp = lo..hi
            bmin = np.minimum(prev[lo : hi + 1], prev[lo - 1 : hi])
            # entry[jp] = B[jp] - pc[jp-1] (pc[lo-1] = 0)
            entry = bmin - np.concatenate(([np.int64(0)], pc[:-1]))
            cur_band = pc + np.minimum.accumulate(entry)
            cur = np.full(nb + 1, big)
            cur[lo : hi + 1] = np.minimum(cur_band, big)
            prev = cur
        d = int(prev[nb])
        return pd.DataFrame(
            {
                "grp": [grp],
                "n_a": [na],
                "n_b": [nb],
                "dtw_cents": [d if d < DTW_BIG else None],
            }
        )

    return (
        series.select(
            F.col(grp_col).alias("grp"),
            F.col(ord_col).alias(ord_col),
            F.col(cents_col).alias(cents_col),
        )
        .groupBy("grp")
        .applyInPandas(run, "grp string, n_a long, n_b long, dtw_cents long")
    )


def holt_linear_forecast(
    series: DataFrame,
    grp_col: str,
    ord_col: str,
    cents_col: str,
) -> DataFrame:
    """Holt's linear-trend double exponential smoother per group, with
    α = 1/2 and β = 1/4 and the whole recursion carried in integer
    MICRO-CENTS with half-away rounding at every step — the coupled
    level/trend recursion is the one smoother a cumulative window
    cannot express (unlike the single-EWMA row), and the integer
    ladder makes it exactly replayable by a recursive-CTE oracle
    (dyadic divisors ⇒ the rounding is a 2-/4-divide with carry,
    never a float).

        l₁ = y₁,  b₁ = y₂ − y₁
        l_t = rnd₂(y_t + l_{t−1} + b_{t−1})        [α = 1/2]
        b_t = rnd₄(l_t − l_{t−1} + 3·b_{t−1})      [β = 1/4]
        e_t = y_t − (l_{t−1} + b_{t−1})  (one-step error, t ≥ 3)

    Returns per group the final state plus exact error accumulators:
    (grp, n, l_u, b_u, sae_u, sse_u2_str) — micro-cent longs and the
    Σe² as a decimal STRING (it exceeds int64); presentation
    (dollars, MAE/RMSE, h-step forecast) is left to the caller's
    in-engine expressions so Python banker's rounding never touches
    the contract. Groups with n < 3 are skipped.

    Scale shape: bounded-series-per-group contract (the
    kendall/DTW family) — ``applyInPandas`` over independent groups,
    O(n) integer work per group.
    """
    import pandas as pd

    def rnd2(x: int) -> int:
        return (x + 1) // 2 if x >= 0 else -((-x + 1) // 2)

    def rnd4(x: int) -> int:
        return (x + 2) // 4 if x >= 0 else -((-x + 2) // 4)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ord_col)
        y = [int(v) * 1_000_000 for v in pdf[cents_col]]
        n = len(y)
        if n < 3:
            return pd.DataFrame(
                columns=["grp", "n", "l_u", "b_u", "sae_u", "sse_u2"]
            ).astype(
                {
                    "grp": "object",
                    "n": "int64",
                    "l_u": "int64",
                    "b_u": "int64",
                    "sae_u": "int64",
                    "sse_u2": "object",
                }
            )
        l, b = y[1], y[1] - y[0]  # closed form of the t=2 update
        sae, sse = 0, 0
        for t in range(2, n):
            e = y[t] - (l + b)
            sae += abs(e)
            sse += e * e
            l_new = rnd2(y[t] + l + b)
            b = rnd4(l_new - l + 3 * b)
            l = l_new
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "n": [n],
                "l_u": [l],
                "b_u": [b],
                "sae_u": [sae],
                "sse_u2": [str(sse)],
            }
        )

    return (
        series.select(
            F.col(grp_col).alias("grp"),
            F.col(ord_col).alias(ord_col),
            F.col(cents_col).alias(cents_col),
        )
        .groupBy("grp")
        .applyInPandas(
            run,
            "grp string, n long, l_u long, b_u long, sae_u long, "
            "sse_u2 string",
        )
    )


SAX_BREAKPOINTS = (-0.6745, 0.0, 0.6745)  # N(0,1) quartiles, alphabet=4


def sax_words(
    series: DataFrame,
    grp_col: str,
    ord_col: str,
    val_col: str,
    n_segments: int = 8,
) -> DataFrame:
    """SAX symbolic fingerprint per series (Lin/Keogh 2003): z-normalize
    the group's series, Piecewise Aggregate Approximation into
    ``n_segments`` buckets, map each PAA mean to an alphabet-4 symbol
    at the standard-normal quartile breakpoints — the discrete word
    that makes time-series similarity indexable (shingle/hash/join
    machinery applies to words exactly as it does to text).

    Determinism: per-group moments accumulate as DECIMAL over 2dp
    inputs (exact, order-free); mean/std/PAA-mean/z are scalar double
    ops on exact aggregates (identical in both engines); z rounds to
    6dp BEFORE the breakpoint compares so a last-ulp difference can
    never flip a symbol; PAA bucketing is integer
    ``floor(idx·w/n)`` on the row_number index (uneven tail buckets,
    the standard treatment); the word assembles in segment order.

    Scale shape: one per-group moment aggregate, one per-(group,
    segment) aggregate, one per-group word assembly — all map-side
    combined, embarrassingly parallel across groups.
    """
    w = Window.partitionBy("grp").orderBy(ord_col)
    base = series.select(
        F.col(grp_col).alias("grp"),
        F.col(ord_col).alias(ord_col),
        F.col(val_col).cast("decimal(18,2)").alias("v"),
    ).withColumn("idx", F.row_number().over(w) - 1)
    moments = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v").cast("decimal(20,2)") * F.col("v")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double")
          * F.col("s").cast("double")
          / F.col("n").cast("double")
    ) / (F.col("n") - F.lit(1)).cast("double")
    stats = moments.select(
        "grp", "n", mean.alias("mu"), F.sqrt(var).alias("sd")
    )
    segged = base.join(F.broadcast(stats), "grp").withColumn(
        "seg",
        F.floor(
            (F.col("idx") * F.lit(n_segments)).cast("double")
            / F.col("n").cast("double")
        ).cast("int"),
    )
    paa = segged.groupBy("grp", "seg").agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu"),
        F.max("sd").alias("sd"),
        F.sum("v").alias("segsum"),
        F.count(F.lit(1)).alias("segn"),
    )
    z = F.round(
        F.try_divide(
            F.col("segsum").cast("double") / F.col("segn").cast("double")
            - F.col("mu"),
            F.col("sd"),
        ),
        6,
    )
    b1, b2, b3 = SAX_BREAKPOINTS
    sym = (
        F.when(z < F.lit(b1), F.lit("a"))
        .when(z < F.lit(b2), F.lit("b"))
        .when(z < F.lit(b3), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    lettered = paa.select("grp", "n", "seg", sym.alias("sym"))
    return (
        lettered.groupBy("grp")
        .agg(
            F.max("n").alias("n_points"),
            F.count(F.lit(1)).alias("n_segments"),
            F.concat_ws("", ordered_list(F.col("sym"), F.col("seg"))).alias(
                "sax_word"
            ),
        )
    )
