"""Property tests for the round-12 operators: algebraic identities and
randomized equivalence against brute-force Python references — the
invariants that hold for ANY input, complementing test_round12_ops'
hand-computed fixtures."""

import random

from pyspark.sql import functions as F

from collection_templates_spark.operators.drift import psi_drift
from collection_templates_spark.operators.privacy import (
    k_anonymity_histogram,
)
from collection_templates_spark.operators.product_analytics import (
    pareto_abc,
)
from collection_templates_spark.operators.profiling import (
    key_skew_report,
    profile_table,
)
from collection_templates_spark.operators.stats import (
    anova_oneway,
    calibration_bins,
    kaplan_meier,
    kendall_tau,
    kruskal_wallis,
    spearman_rho,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "x double, y double")


def test_spearman_monotone_invariance_and_bounds(spark):
    rng = random.Random(101)
    xs = [float(rng.randint(0, 200)) for _ in range(60)]
    ys = [float(rng.randint(0, 200)) for _ in range(60)]
    base = spearman_rho(
        _pairs(spark, list(zip(xs, ys))), "x", "y"
    ).collect()[0]
    assert -1.0 <= base.rho <= 1.0
    # strictly monotone transform of x leaves ranks (hence rho) fixed
    cubed = spearman_rho(
        _pairs(spark, [(x**3 + 2 * x, y) for x, y in zip(xs, ys)]),
        "x",
        "y",
    ).collect()[0]
    assert cubed.rho == base.rho


def test_kendall_brute_force_equivalence(spark):
    rng = random.Random(103)
    rows = [
        (float(rng.randint(0, 8)), float(rng.randint(0, 8)))
        for _ in range(30)
    ]
    out = kendall_tau(_pairs(spark, rows), "x", "y").collect()[0]
    c = d = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            s = (rows[i][0] - rows[j][0]) * (rows[i][1] - rows[j][1])
            if s > 0:
                c += 1
            elif s < 0:
                d += 1
    assert (out.concordant, out.discordant) == (c, d)
    assert -1.0 <= out.tau_b <= 1.0


def test_anova_translation_invariance_and_f_nonneg(spark):
    rng = random.Random(107)
    rows = [
        (str(rng.randint(0, 3)), float(rng.randint(0, 100)))
        for _ in range(80)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    a = anova_oneway(df, "g", "v").collect()[0]
    shifted = spark.createDataFrame(
        [(g, v + 50.0) for g, v in rows], "g string, v double"
    )
    b = anova_oneway(shifted, "g", "v").collect()[0]
    # SSB/SSW (hence F, eta) are translation-invariant
    assert a.f_stat == b.f_stat and a.eta_sq == b.eta_sq
    assert a.f_stat >= 0.0 and 0.0 <= a.eta_sq <= 1.0


def test_kruskal_two_groups_matches_mann_whitney_decision(spark):
    # with k=2, H = z^2 of the tie-corrected Mann-Whitney (chi2(1)):
    # check the algebraic link on random data
    from collection_templates_spark.operators.stats import mann_whitney_u

    rng = random.Random(109)
    rows = [("a", float(rng.randint(0, 15))) for _ in range(35)] + [
        ("b", float(rng.randint(5, 20))) for _ in range(45)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    h = kruskal_wallis(df, "g", "v").collect()[0]
    z = mann_whitney_u(df, "g", "v", "a", "b").collect()[0].z
    assert h.df == 1
    assert abs(h.h_corrected - z * z) < 1e-3


def test_kaplan_meier_monotone_and_bounds(spark):
    rng = random.Random(113)
    rows = [
        (rng.randint(0, 25), rng.random() < 0.7) for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "dur long, obs boolean")
    out = kaplan_meier(df, "dur", "obs").orderBy("t").collect()
    surv = [r.survival for r in out]
    assert all(0.0 <= s <= 1.0 for s in surv)
    assert all(a >= b for a, b in zip(surv, surv[1:]))  # non-increasing
    # risk sets shrink over time
    risks = [r.n_risk for r in out]
    assert all(a > b for a, b in zip(risks, risks[1:]))


def test_psi_nonneg_and_zero_on_identical(spark):
    rng = random.Random(127)
    rows = []
    for _ in range(300):
        v = float(rng.randint(0, 99))
        rows.append(("g", "a", v))
        rows.append(("g", "b", v))  # identical distributions
    df = spark.createDataFrame(rows, "grp string, sl string, v double")
    out = psi_drift(
        df, "grp", "v", F.col("sl"), "a", "b", n_bins=10, lo=0.0,
        hi=100.0,
    ).collect()[0]
    assert out.psi == 0.0
    # PSI >= 0 for any pair (equal totals here, so smoothing is
    # symmetric and Gibbs' inequality applies to each direction)
    rows2 = [("g", "a", float(rng.randint(0, 50))) for _ in range(200)]
    rows2 += [("g", "b", float(rng.randint(30, 99))) for _ in range(200)]
    df2 = spark.createDataFrame(rows2, "grp string, sl string, v double")
    out2 = psi_drift(
        df2, "grp", "v", F.col("sl"), "a", "b", n_bins=10, lo=0.0,
        hi=100.0,
    ).collect()[0]
    assert out2.psi > 0.0


def test_pareto_partition_and_share_sum(spark):
    rng = random.Random(131)
    rows = [(k, float(rng.randint(1, 1000))) for k in range(150)]
    df = spark.createDataFrame(rows, "k bigint, v double")
    out = pareto_abc(df, "k", "v").collect()
    assert sum(r.n_keys for r in out) == 150
    assert abs(sum(r.value_share for r in out) - 1.0) < 1e-5
    assert abs(sum(r.value for r in out) - sum(v for _, v in rows)) < 1e-6
    by = {r.abc_class: r for r in out}
    # A-class keys carry more value per key than C-class keys
    if "A" in by and "C" in by:
        assert (by["A"].value / by["A"].n_keys
                > by["C"].value / by["C"].n_keys)


def test_profile_and_skew_consistency(spark):
    rng = random.Random(137)
    rows = [
        (rng.randint(0, 9), None if rng.random() < 0.2 else f"s{rng.randint(0, 4)}")
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "k bigint, s string")
    prof = {r.col_name: r for r in profile_table(df).collect()}
    brute_nulls = sum(1 for _, s in rows if s is None)
    assert prof["s"].n_null == brute_nulls
    assert prof["k"].n_distinct == len({k for k, _ in rows})
    skew = key_skew_report(df, "k").collect()[0]
    assert skew.n_rows == 200 and skew.n_keys == prof["k"].n_distinct
    from collections import Counter

    counts = Counter(k for k, _ in rows)
    assert skew.max_count == max(counts.values())


def test_k_anonymity_rows_conserved(spark):
    rng = random.Random(139)
    rows = [
        (rng.randint(0, 4), rng.randint(0, 2), rng.randint(0, 50))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "a int, b int, sens int")
    out = k_anonymity_histogram(df, ["a", "b"], "sens").collect()
    assert sum(r.n_rows for r in out) == 300
    assert all(1 <= r.min_l_diversity <= r.class_size for r in out)


def test_calibration_weighted_mean_identity(spark):
    rng = random.Random(151)
    rows = [
        (round(rng.random(), 3), rng.random() < 0.5) for _ in range(250)
    ]
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = calibration_bins(df, "score", "y", n_bins=10).collect()
    n = sum(r.n for r in out)
    assert n == 250
    # weighted mean of per-bin positive rates == overall positive rate
    overall = sum(1 for _, y in rows if y) / 250
    recon = sum(r.n * r.frac_positive for r in out) / n
    assert abs(recon - overall) < 1e-4
