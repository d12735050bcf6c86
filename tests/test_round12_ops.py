"""Round-12 operators, each pinned by a hand-computed fixture here AND
an oracled bank row in plans/testdata_queries.py: Spearman rho, Kendall
tau-b, Theil–Sen slope, deterministic bootstrap CI."""

import pytest
from pyspark.sql import functions as F

from collection_templates_spark.operators.stats import (
    bootstrap_mean_ci,
    kendall_tau,
    spearman_rho,
)
from collection_templates_spark.operators.temporal import theil_sen_slope


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "x double, y double")


def test_spearman_perfect_monotone(spark):
    # any monotone transform scores rho = 1 (the whole point vs Pearson)
    rows = [(float(i), float(i**3)) for i in range(1, 9)]
    out = spearman_rho(_pairs(spark, rows), "x", "y").collect()[0]
    assert out.n == 8 and out.rho == 1.0
    rows = [(float(i), float(-(i**3))) for i in range(1, 9)]
    assert spearman_rho(_pairs(spark, rows), "x", "y").collect()[0].rho == -1.0


def test_spearman_ties_average_ranks(spark):
    # x = (1,2,2,4) -> ranks (1, 2.5, 2.5, 4); y = (1,3,2,4) -> (1,3,2,4)
    # Pearson on ranks: cov 4.5, var_x 4.5, var_y 5 -> 4.5/sqrt(22.5)
    rows = [(1.0, 1.0), (2.0, 3.0), (2.0, 2.0), (4.0, 4.0)]
    out = spearman_rho(_pairs(spark, rows), "x", "y").collect()[0]
    assert out.rho == pytest.approx(4.5 / 22.5**0.5, abs=1e-6)


def test_kendall_hand_example(spark):
    # x = 1..4, y = (1,3,2,4): pairs C=5, D=1 -> tau = 4/6
    rows = [(1.0, 1.0), (2.0, 3.0), (3.0, 2.0), (4.0, 4.0)]
    out = kendall_tau(_pairs(spark, rows), "x", "y").collect()[0]
    assert (out.concordant, out.discordant) == (5, 1)
    assert out.tau_b == pytest.approx(4 / 6, abs=1e-6)


def test_kendall_tie_correction(spark):
    # x has a tie: n0=6, n1 (x-ties)=1, n2=0; C=5, D=0
    # tau_b = 5 / sqrt(5 * 6) ~ 0.912871
    rows = [(1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (4.0, 4.0)]
    out = kendall_tau(_pairs(spark, rows), "x", "y").collect()[0]
    assert out.tau_b == pytest.approx(5 / (5 * 6) ** 0.5, abs=1e-6)


def test_theil_sen_ignores_outlier(spark):
    import datetime

    d0 = datetime.date(2024, 1, 1)
    rows = []
    for i in range(21):
        v = 10.0 + 2.0 * i
        if i == 10:
            v = 500.0  # one wild day must not move the slope
        rows.append(("g", d0 + datetime.timedelta(days=i), v))
    df = spark.createDataFrame(rows, "grp string, t date, v double")
    out = theil_sen_slope(df, "grp", "t", "v").collect()[0]
    assert out.n_days == 21
    assert out.slope == pytest.approx(2.0, abs=1e-6)
    assert out.intercept == pytest.approx(10.0, abs=1e-6)


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    rows = [(i, float(100 + (i * 37) % 50)) for i in range(2000)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    out1 = bootstrap_mean_ci(df, "value", "event_id").collect()[0]
    out2 = bootstrap_mean_ci(df, "value", "event_id").collect()[0]
    assert out1 == out2  # pure function of (salt, ids, values)
    assert out1.n == 2000 and out1.b == 48
    assert out1.ci_lo <= out1.mean <= out1.ci_hi
    assert out1.q_lo <= out1.mean <= out1.q_hi
    # CI width is a plausible multiple of the analytic SE (sd/sqrt(n));
    # values span [100, 150) ~ sd 14.4 -> SE ~ 0.32
    width = out1.ci_hi - out1.ci_lo
    assert 0.05 < width < 5.0, out1


def test_bootstrap_ci_salt_changes_replicates_not_mean(spark):
    rows = [(i, float(i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    a = bootstrap_mean_ci(df, "value", "event_id", salt="a").collect()[0]
    b = bootstrap_mean_ci(df, "value", "event_id", salt="b").collect()[0]
    assert a.mean == b.mean
    assert (a.q_lo, a.q_hi) != (b.q_lo, b.q_hi)


def test_anova_hand_example(spark):
    # A=[1,2,3], B=[4,5,6]: SSB=13.5, SSW=4, F=(13.5/1)/(4/4)=13.5
    from collection_templates_spark.operators.stats import anova_oneway

    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0),
            ("B", 4.0), ("B", 5.0), ("B", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = anova_oneway(df, "g", "v").collect()[0]
    assert (out.k, out.n) == (2, 6)
    assert out.ss_between == pytest.approx(13.5, abs=1e-4)
    assert out.ss_within == pytest.approx(4.0, abs=1e-4)
    assert out.f_stat == pytest.approx(13.5, abs=1e-6)
    assert out.eta_sq == pytest.approx(13.5 / 17.5, abs=1e-6)


def test_kruskal_wallis_no_ties(spark):
    # ranks 1..6; R=(6,15); H = 12/42*87 - 21 = 27/7
    from collection_templates_spark.operators.stats import kruskal_wallis

    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0),
            ("B", 4.0), ("B", 5.0), ("B", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "g", "v").collect()[0]
    assert (out.k, out.n, out.df) == (2, 6, 1)
    assert out.h_stat == pytest.approx(27 / 7, abs=1e-6)
    assert out.h_corrected == out.h_stat  # no ties


def test_two_proportion_hand(spark):
    from collection_templates_spark.operators.stats import (
        two_proportion_ztest,
    )

    rows = [("A", i < 40) for i in range(100)] + [
        ("B", i < 30) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g string, s boolean")
    out = two_proportion_ztest(df, "g", "s", "A", "B").collect()[0]
    assert (out.n_a, out.x_a, out.n_b, out.x_b) == (100, 40, 100, 30)
    expect = 0.1 / (0.35 * 0.65 * 0.02) ** 0.5
    assert out.z == pytest.approx(expect, abs=1e-6)
    assert not out.reject_05


def test_cuped_perfect_covariate(spark):
    # y = 2x exactly: theta = 2, var_reduction = 1, and the adjusted
    # means of both variants coincide (all variance was pre-period).
    from collection_templates_spark.operators.stats import (
        cuped_adjustment,
    )

    rows = [("A", 1.0, 2.0), ("A", 2.0, 4.0),
            ("B", 3.0, 6.0), ("B", 4.0, 8.0)]
    df = spark.createDataFrame(rows, "variant string, x double, y double")
    out = {r.variant: r for r in cuped_adjustment(
        df, "variant", "x", "y").collect()}
    assert out["A"].theta == pytest.approx(2.0, abs=1e-6)
    assert out["A"].var_reduction == pytest.approx(1.0, abs=1e-6)
    assert out["A"].mean_y_cuped == pytest.approx(
        out["B"].mean_y_cuped, abs=1e-6)
    assert out["A"].mean_y == pytest.approx(3.0, abs=1e-6)


def test_kaplan_meier_textbook(spark):
    # durations 1+(obs), 2(obs), 3(censored), 4(obs):
    # S(1)=3/4, S(2)=1/2, t=3 no event row, S(4)=0 (d==n edge)
    from collection_templates_spark.operators.stats import kaplan_meier

    rows = [(1, True), (2, True), (3, False), (4, True)]
    df = spark.createDataFrame(rows, "dur long, obs boolean")
    out = {r.t: r for r in kaplan_meier(df, "dur", "obs").collect()}
    assert sorted(out) == [1, 2, 4]
    assert out[1].n_risk == 4 and out[1].survival == pytest.approx(0.75)
    assert out[2].n_risk == 3 and out[2].survival == pytest.approx(0.5)
    assert out[4].n_risk == 1 and out[4].survival == 0.0
    assert out[1].d_events == 1 and out[1].c_censored == 0


def test_profile_table_basics(spark):
    from collection_templates_spark.operators.profiling import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "ab", 1.5), (2, None, -0.5), (3, "wxyz", None)],
        "id bigint, s string, v double",
    )
    out = {r.col_name: r for r in profile_table(df).collect()}
    assert out["id"].n_rows == 3 and out["id"].n_null == 0
    assert out["id"].n_distinct == 3
    assert (out["id"].min_num, out["id"].max_num) == (1.0, 3.0)
    assert out["s"].n_null == 1 and out["s"].n_distinct == 2
    assert (out["s"].min_len, out["s"].max_len) == (2, 4)
    assert out["s"].min_num is None
    assert (out["v"].min_num, out["v"].max_num) == (-0.5, 1.5)
    assert out["v"].min_len is None


def test_psi_identical_distributions_near_zero(spark):
    # identical early/late slices: smoothing keeps PSI exactly 0
    from pyspark.sql import functions as F
    from collection_templates_spark.operators.drift import psi_drift

    rows = [("g", s, float(v % 10)) for v in range(100)
            for s in ("a", "b")]
    df = spark.createDataFrame(rows, "grp string, sl string, v double")
    out = psi_drift(
        df, "grp", "v", F.col("sl"), "a", "b", n_bins=10,
        lo=0.0, hi=10.0,
    ).collect()[0]
    assert (out.n_a, out.n_b) == (100, 100)
    assert out.psi == 0.0
    # a concentrated shift produces a clearly positive PSI
    rows2 = ([("g", "a", 1.0)] * 90 + [("g", "a", 9.0)] * 10
             + [("g", "b", 1.0)] * 10 + [("g", "b", 9.0)] * 90)
    df2 = spark.createDataFrame(rows2, "grp string, sl string, v double")
    out2 = psi_drift(
        df2, "grp", "v", F.col("sl"), "a", "b", n_bins=10,
        lo=0.0, hi=10.0,
    ).collect()[0]
    assert out2.psi > 1.0


def test_calibration_bins_perfectly_calibrated(spark):
    # bin 2 (scores ~0.25): 1 of 4 positive; gap = 0.25 - 0.25 = 0
    from collection_templates_spark.operators.stats import (
        calibration_bins,
    )

    rows = [(0.25, i == 0) for i in range(4)] + [
        (0.75, i < 3) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "score double, y boolean")
    out = {r.bin: r for r in calibration_bins(
        df, "score", "y", n_bins=10).collect()}
    assert out[2].n == 4 and out[2].frac_positive == 0.25
    assert out[2].gap == pytest.approx(0.0, abs=1e-6)
    assert out[7].mean_score == pytest.approx(0.75, abs=1e-6)
    assert out[7].frac_positive == 0.75
    # score exactly 1.0 clamps into the top bin
    df2 = spark.createDataFrame([(1.0, True)], "score double, y boolean")
    assert calibration_bins(df2, "score", "y").collect()[0].bin == 9


def test_user_growth_hand_series(spark):
    import datetime

    from collection_templates_spark.operators.product_analytics import (
        user_growth,
    )

    def t(d, u):
        return (datetime.datetime(2024, 1, d, 12, 0), u)

    rows = [t(1, 1), t(1, 1), t(1, 2), t(2, 1), t(2, 3), t(3, 3)]
    df = spark.createDataFrame(rows, "ts timestamp, user_id bigint")
    out = {r.day.day: r for r in user_growth(df).collect()}
    assert (out[1].dau, out[1].new_users, out[1].cum_users) == (2, 2, 2)
    assert (out[2].dau, out[2].new_users, out[2].cum_users) == (2, 1, 3)
    assert (out[3].dau, out[3].new_users, out[3].cum_users) == (1, 0, 3)


def test_k_anonymity_histogram(spark):
    from collection_templates_spark.operators.privacy import (
        k_anonymity_histogram,
    )

    rows = [("us", "a", 1), ("us", "a", 2), ("us", "a", 2),
            ("de", "b", 5), ("de", "c", 6)]
    df = spark.createDataFrame(rows, "nat string, seg string, sens int")
    out = {r.class_size: r for r in k_anonymity_histogram(
        df, ["nat", "seg"], sensitive_col="sens").collect()}
    # two singleton classes (de,b) (de,c), one size-3 class (us,a)
    assert out[1].n_classes == 2 and out[1].n_rows == 2
    assert out[1].min_l_diversity == 1
    assert out[3].n_classes == 1 and out[3].n_rows == 3
    assert out[3].min_l_diversity == 2  # sens values {1, 2}
    # without sensitive col: same histogram, no l column
    h = k_anonymity_histogram(df, ["nat", "seg"]).columns
    assert "min_l_diversity" not in h


def test_key_skew_report(spark):
    from collection_templates_spark.operators.profiling import (
        key_skew_report,
    )

    rows = [(k,) for k in [1] * 8 + [2, 3]]
    df = spark.createDataFrame(rows, "k bigint")
    out = key_skew_report(df, "k").collect()[0]
    assert (out.n_rows, out.n_keys, out.max_count) == (10, 3, 8)
    assert out.top1_share == pytest.approx(0.8, abs=1e-6)
    assert out.p50_count == pytest.approx(1.0, abs=1e-6)


def test_tfidf_cosine_prefers_focused_doc(spark):
    # doc 1 is entirely the query terms; doc 2 mentions them once in a
    # long tail -> cosine ranks doc 1 first even though tf is equal
    from collection_templates_spark.operators.search import (
        search_tfidf_cosine,
    )

    filler = " ".join(f"filler{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, "spark hash join"), (2, "spark hash join " + filler),
         (3, "unrelated text entirely")],
        "doc_id bigint, text string",
    )
    out = search_tfidf_cosine(docs, "spark hash join", k=5).collect()
    ranked = [r.doc_id for r in out]
    assert ranked[0] == 1 and 2 in ranked and 3 not in ranked
    assert out[0].score > out[1].score


def test_pareto_abc_hand_distribution(spark):
    from collection_templates_spark.operators.product_analytics import (
        pareto_abc,
    )

    # values 80, 10, 6, 4 of total 100: A={80} (0.80 boundary is
    # INCLUSIVE), B={10} (0.90), C={6 (0.96), 4}
    rows = [(1, 80.0), (2, 10.0), (3, 6.0), (4, 4.0)]
    df = spark.createDataFrame(rows, "k bigint, v double")
    out = {r.abc_class: r for r in pareto_abc(df, "k", "v").collect()}
    assert out["A"].n_keys == 1 and out["A"].value == 80.0
    assert out["B"].n_keys == 1 and out["B"].value == 10.0
    assert out["C"].n_keys == 2 and out["C"].value == 10.0
    assert out["A"].value_share == pytest.approx(0.8, abs=1e-6)


def test_centroid_separation_orthogonal_vs_identical(spark):
    from collection_templates_spark.operators.similarity import (
        centroid_separation,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {(r.label_a, r.label_b): r.cosine
           for r in centroid_separation(df).collect()}
    assert out[(0, 1)] == pytest.approx(0.0, abs=1e-6)
    assert out[(0, 2)] == pytest.approx(1.0, abs=1e-6)
    assert out[(1, 2)] == pytest.approx(0.0, abs=1e-6)


def test_rolling_quantile_hand_window(spark):
    import datetime

    from collection_templates_spark.operators.temporal import (
        rolling_quantile,
    )

    d0 = datetime.date(2024, 1, 1)
    vals = [5.0, 1.0, 9.0, 3.0, 7.0]
    rows = [("g", d0 + datetime.timedelta(days=i), v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "grp string, day date, v double")
    out = {r.t.day: r.rolling_q for r in rolling_quantile(
        df, "grp", "day", "v", q=0.5, window_rows=3).collect()}
    # day3 window {5,1,9} -> 5; day4 {1,9,3} -> 3; day5 {9,3,7} -> 7
    assert out[1] == 5.0 and out[2] == 3.0  # {5}, {5,1}->interp 3
    assert out[3] == 5.0 and out[4] == 3.0 and out[5] == 7.0


def test_cohort_ltv_hand_series(spark):
    import datetime

    from collection_templates_spark.operators.product_analytics import (
        cohort_ltv,
    )

    def ev(day, uid, typ, val):
        return (datetime.datetime(2024, 1, day, 10), uid, typ, val)

    # users 1,2 sign up Mon Jan 1 week; user 1 buys 10 on day 1 and
    # 20 on day 3 (age 0, 2); user 2 buys 40 on day 2 (age 1)
    rows = [
        ev(1, 1, "signup", 0.0), ev(2, 2, "signup", 0.0),
        ev(1, 1, "purchase", 10.0), ev(3, 1, "purchase", 20.0),
        ev(3, 2, "purchase", 40.0),
    ]
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id bigint, event_type string, value double"
    )
    out = {r.age_days: r for r in cohort_ltv(df).collect()}
    assert out[0].revenue_cum == 10.0
    assert out[1].revenue_cum == 50.0  # +40 (user 2, age 1)
    assert out[2].revenue_cum == 70.0
    assert out[2].n_users == 2
    assert out[2].ltv_per_user == pytest.approx(35.0, abs=1e-6)
