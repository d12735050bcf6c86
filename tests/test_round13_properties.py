"""Property tests for the round-13 operators: algebraic identities and
randomized equivalence against brute-force Python references."""

import pytest
import math
import random

from pyspark.sql import functions as F

from collection_templates_spark.operators.sketches import (
    DD_ALPHA,
    ddsketch_bins,
    ddsketch_merge,
    ddsketch_quantiles,
)


def _values_df(spark, vals):
    return spark.createDataFrame([(float(v),) for v in vals], "v double")


def test_ddsketch_merge_equals_single_pass(spark):
    """merge(bins(shard_1), …, bins(shard_k)) == bins(whole), exactly —
    the summary is a row-local binning, so the merged histogram is the
    single-pass histogram bin-for-bin (the hll_merge max-register
    argument, for order statistics)."""
    rng = random.Random(131)
    vals = [rng.lognormvariate(2.0, 1.5) for _ in range(4000)]
    whole = _values_df(spark, vals)
    k = 5
    shards = [
        _values_df(spark, vals[i::k]) for i in range(k)
    ]  # arbitrary interleaved sharding
    single = {
        r.bin: r.cnt
        for r in ddsketch_bins(whole, "v").collect()
    }
    merged = {
        r.bin: r.cnt
        for r in ddsketch_merge(
            *[ddsketch_bins(s, "v") for s in shards]
        ).collect()
    }
    assert merged == single


def test_ddsketch_relative_error_bound(spark):
    """Every estimate is within alpha relative error of the true order
    statistic at rank floor(q*(n-1))+1 — the DDSketch guarantee, which
    is deterministic (no failure probability, unlike KLL)."""
    rng = random.Random(137)
    vals = sorted(rng.expovariate(0.01) + 0.01 for _ in range(3000))
    df = _values_df(spark, vals)
    n = len(vals)
    for q_row in ddsketch_quantiles(
        ddsketch_bins(df, "v"), (0.1, 0.5, 0.9, 0.99)
    ).collect():
        exact = vals[int(math.floor(q_row.q * (n - 1)))]
        # est_q is rounded 4dp; allow that rounding on top of alpha
        assert abs(q_row.est_q - exact) / exact <= DD_ALPHA + 1e-3, (
            q_row,
            exact,
        )


def test_ddsketch_bin_count_bounded(spark):
    """Summary size is O(log(max/min)/log(gamma)) regardless of row
    count — the reason the sketch exists at 100 TB."""
    rng = random.Random(139)
    vals = [rng.uniform(0.01, 1e6) for _ in range(20000)]
    n_bins = ddsketch_bins(_values_df(spark, vals), "v").count()
    gamma = (1 + DD_ALPHA) / (1 - DD_ALPHA)
    bound = math.log(1e6 / 0.01) / math.log(gamma) + 2
    assert n_bins <= bound


def test_ddsketch_zero_and_negative_sentinel(spark):
    """v <= 0 lands in the sentinel bin and reads back as exactly 0.0
    when it holds the target rank."""
    df = _values_df(spark, [0.0, -3.0, 0.0, 5.0])
    rows = ddsketch_quantiles(
        ddsketch_bins(df, "v"), (0.25,)
    ).collect()
    assert rows[0].est_q == 0.0


from collection_templates_spark.operators.stats import (  # noqa: E402
    grubbs_test,
    jarque_bera,
    levene_brown_forsythe,
    mutual_information,
    permutation_mean_test,
    poisson_rate_test,
)


def _gv(spark, rows):
    return spark.createDataFrame(rows, "g string, v double")


def test_levene_translation_and_scale_invariance(spark):
    """Per-group translation leaves |v − med_g| unchanged; global
    scaling cancels in the F ratio — both leave W fixed."""
    rng = random.Random(211)
    rows = [
        (g, round(rng.uniform(0, 50) * (1 + 2 * i), 2))
        for i, g in enumerate("abc")
        for _ in range(40)
    ]
    base = levene_brown_forsythe(_gv(spark, rows), "g", "v").collect()[0]
    shifted = [
        (g, v + {"a": 100.0, "b": -40.0, "c": 7.0}[g]) for g, v in rows
    ]
    sh = levene_brown_forsythe(_gv(spark, shifted), "g", "v").collect()[0]
    assert sh.w_stat == base.w_stat
    scaled = [(g, 4.0 * v) for g, v in rows]
    sc = levene_brown_forsythe(_gv(spark, scaled), "g", "v").collect()[0]
    assert abs(sc.w_stat - base.w_stat) < 1e-3
    assert base.df1 == 2 and base.df2 == len(rows) - 3


def test_jarque_bera_brute_force(spark):
    rng = random.Random(223)
    vals = [round(rng.uniform(0.01, 400), 2) for _ in range(500)]
    out = jarque_bera(
        spark.createDataFrame([(v,) for v in vals], "v double"), "v"
    ).collect()[0]
    n = len(vals)
    mu = sum(vals) / n
    m2 = sum((v - mu) ** 2 for v in vals) / n
    m3 = sum((v - mu) ** 3 for v in vals) / n
    m4 = sum((v - mu) ** 4 for v in vals) / n
    skew = m3 / m2**1.5
    kurt = m4 / m2**2 - 3
    jb = n / 6 * (skew**2 + kurt**2 / 4)
    assert abs(out.skewness - skew) < 1e-4
    assert abs(out.ex_kurtosis - kurt) < 1e-4
    assert abs(out.jb_stat - jb) < max(1e-2, abs(jb) * 1e-4)


def test_grubbs_recovers_planted_outlier(spark):
    rng = random.Random(227)
    vals = [round(rng.uniform(90, 110), 2) for _ in range(200)] + [
        500.0
    ]
    out = grubbs_test(
        spark.createDataFrame([(v,) for v in vals], "v double"), "v"
    ).collect()[0]
    assert out.outlier_value == 500.0
    n = len(vals)
    mu = sum(vals) / n
    sd = (sum((v - mu) ** 2 for v in vals) / (n - 1)) ** 0.5
    assert abs(out.g_stat - (500.0 - mu) / sd) < 1e-4


def test_permutation_test_brute_force(spark):
    """Replicate the hash-bit relabeling in Python: identical counts,
    identical p."""
    rng = random.Random(229)
    rows = [
        (i, "A" if i % 2 == 0 else "B", round(rng.uniform(0, 100), 2))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = permutation_mean_test(
        df, "g", "v", "id", "A", "B", b=30, salt="perm"
    ).collect()[0]
    salt_add = sum(ord(c) for c in "perm")
    import decimal

    def h(i):
        return ((i * 2654435761 + 97531 + salt_add) % 2147483647) * (
            2**31
        ) + ((i * 1566083941 + 13579 + salt_add) % 2147483647)

    vals = {i: decimal.Decimal(str(v)) for i, _, v in rows}
    s_all = sum(vals.values())
    n_all = len(rows)
    s_a = sum(vals[i] for i, g, _ in rows if g == "A")
    c_a = sum(1 for _, g, _ in rows if g == "A")
    d_obs = round(
        float(s_a) / c_a - float(s_all - s_a) / (n_all - c_a), 9
    )
    n_ext = 0
    for j in range(30):
        sj = sum(vals[i] for i, _, _ in rows if (h(i) >> j) & 1)
        cj = sum(1 for i, _, _ in rows if (h(i) >> j) & 1)
        dj = round(
            float(sj) / cj - float(s_all - sj) / (n_all - cj), 9
        )
        if abs(dj) >= abs(d_obs):
            n_ext += 1
    assert out.n_extreme == n_ext
    assert out.p_value == round((n_ext + 1) / 31, 6)
    assert 1 / 31 <= out.p_value <= 1.0


def test_poisson_rate_brute_force(spark):
    rows = [("A", 10, 5), ("A", 2, 4), ("B", 3, 6), ("B", 1, 3)]
    df = spark.createDataFrame(rows, "g string, k long, t long")
    out = poisson_rate_test(df, "g", "k", "t", "A", "B").collect()[0]
    ra, rb = 12 / 9, 4 / 9
    z = (ra - rb) / (12 / 81 + 4 / 81) ** 0.5
    assert (out.k_a, out.t_a, out.k_b, out.t_b) == (12, 9, 4, 9)
    assert abs(out.z - z) < 1e-6


def test_mutual_information_identities(spark):
    """Independent features → MI 0; a feature equal to the label →
    NMI exactly 1."""
    rows = []
    for i in range(200):
        lab = str(i % 2)
        rows.append(("indep", str((i // 2) % 4), lab))
        rows.append(("copy", lab, lab))
    df = spark.createDataFrame(rows, "f string, x string, y string")
    out = {
        r.feature: r for r in mutual_information(df, "f", "x", "y").collect()
    }
    assert abs(out["indep"].mi_nats) < 1e-9
    assert out["copy"].nmi == 1.0
    assert out["copy"].k_x == 2 and out["copy"].k_y == 2


def test_lttb_downsample_brute_force(spark):
    """One point per bucket; boundary buckets keep first/last point;
    interior buckets keep the brute-force max-area point."""
    from collection_templates_spark.operators.temporal import (
        lttb_downsample,
    )

    rng = random.Random(251)
    n, bsize = 47, 10
    series = [("g", i, round(rng.uniform(0, 100), 2)) for i in range(n)]
    df = spark.createDataFrame(series, "g string, d int, v double")
    out = {
        r.bucket: (r.ord, r.v)
        for r in lttb_downsample(df, "g", "d", "v", bsize).collect()
    }
    n_buckets = -(-n // bsize)
    assert sorted(out) == list(range(n_buckets))
    assert out[0] == (0, series[0][2])
    assert out[n_buckets - 1] == (n - 1, series[-1][2])
    # brute-force interior buckets
    xs = [float(i + 1) for i in range(n)]
    ys = [v for _, _, v in series]
    for b in range(1, n_buckets - 1):
        lo, hi = b * bsize, min((b + 1) * bsize, n)
        pl, ph = (b - 1) * bsize, b * bsize
        nl, nh = (b + 1) * bsize, min((b + 2) * bsize, n)
        xa = sum(xs[pl:ph]) / (ph - pl)
        ya = sum(ys[pl:ph]) / (ph - pl)
        xc = sum(xs[nl:nh]) / (nh - nl)
        yc = sum(ys[nl:nh]) / (nh - nl)
        best = max(
            range(lo, hi),
            key=lambda i: (
                round(abs((xa - xc) * (ys[i] - ya)
                          - (xa - xs[i]) * (ya - yc)), 6),
                -xs[i],
            ),
        )
        assert out[b] == (best, ys[best]), b


def test_srm_power_tost_brute_force(spark):
    from collection_templates_spark.operators.stats import (
        power_analysis_mean,
        srm_check,
        tost_equivalence,
    )

    rng = random.Random(263)
    rows = [
        ("A" if i < 130 else "B", round(rng.uniform(10, 20), 2))
        for i in range(230)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    srm = srm_check(df, "g", "A", "B").collect()[0]
    # 130/100 vs 115/115 expected: chi2 = 2*(15^2/115)
    assert (srm.n_a, srm.n_b) == (130, 100)
    assert abs(srm.chi2 - 2 * 15**2 / 115) < 1e-6
    # 2*15^2/115 = 3.913 > 3.841: this imbalance IS a mismatch
    assert srm.srm_flag

    vals = [v for _, v in rows]
    n = len(vals)
    mu = sum(vals) / n
    var = sum((v - mu) ** 2 for v in vals) / (n - 1)
    pw = power_analysis_mean(df, "v").collect()[0]
    want = 2 * var * (1.959964 + 0.841621) ** 2 / (0.05 * mu) ** 2
    assert pw.n_per_arm == math.ceil(round(want, 6))

    # identical distributions with a generous margin → equivalent
    to = tost_equivalence(df, "g", "v", "A", "B", margin_rel=0.05)
    r = to.collect()[0]
    va = [v for g, v in rows if g == "A"]
    vb = [v for g, v in rows if g == "B"]
    ma, mb = sum(va) / len(va), sum(vb) / len(vb)
    assert abs(r.diff - (ma - mb)) < 1e-5
    assert r.equivalent == (r.z_lower > 1.644854 and r.z_upper > 1.644854)


def test_mahalanobis_brute_force(spark):
    from collection_templates_spark.operators.stats import (
        mahalanobis_outliers,
    )

    rng = random.Random(269)
    rows = [
        (round(u := rng.uniform(0, 10), 2), round(2 * u + rng.uniform(-1, 1), 2))
        for _ in range(300)
    ] + [(1.0, 25.0)]  # joint outlier: low x, high y
    df = spark.createDataFrame(rows, "x double, y double")
    out = mahalanobis_outliers(df, "x", "y", k=5).collect()
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]
    assert (out[0].x, out[0].y) == (1.0, 25.0)
    # brute force d2 of the winner
    import statistics

    xs = [x for x, _ in rows]
    ys = [y for _, y in rows]
    n = len(rows)
    mx, my = sum(xs) / n, sum(ys) / n
    vx = statistics.variance(xs)
    vy = statistics.variance(ys)
    vxy = sum((x - mx) * (y - my) for x, y in rows) / (n - 1)
    det = vx * vy - vxy * vxy
    d2 = ((1.0 - mx) ** 2 * vy - 2 * (1.0 - mx) * (25.0 - my) * vxy
          + (25.0 - my) ** 2 * vx) / det
    assert abs(out[0].d2 - d2) < 1e-4


def test_flac_random_roundtrip_all_subframes():
    """Randomized FLAC round trips across every subframe type, rice
    parameter and both stereo paths — no Spark, pure codec."""
    from collection_templates_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )
    import struct

    rng = random.Random(271)
    for trial in range(12):
        n = rng.choice([16, 48, 96])
        sub = rng.choice(
            ["constant", "verbatim", "fixed0", "fixed1", "fixed2",
             "fixed3", "fixed4", "lpc1"]
        )
        if sub == "constant":
            left = [rng.randint(-3000, 3000)] * n
        else:
            left = [rng.randint(-3000, 3000) for _ in range(n)]
        stereo = rng.choice([None, None, "mid_side"])
        chans = [left]
        if stereo or rng.random() < 0.4:
            right = (
                [left[0]] * n if sub == "constant"
                else [rng.randint(-3000, 3000) for _ in range(n)]
            )
            chans = [left, right]
        if stereo and len(chans) != 2:
            stereo = None
        rice = rng.randint(6, 14)
        blob = encode_flac(
            chans, subframe=sub, rice_param=rice, stereo_mode=stereo
        )
        ch, _, nn, pcm = decode_flac(blob)
        assert (ch, nn) == (len(chans), n), (trial, sub, stereo)
        vals = struct.unpack(f"<{nn * ch}h", pcm)
        for c in range(ch):
            assert list(vals[c::ch]) == chans[c], (trial, sub, stereo)


def test_ddsketch_merge_associativity_random_partitions(spark):
    """Random k-way partitions, merged in random association orders,
    all equal the single pass — full mergeability, not just one
    sharding."""
    from collection_templates_spark.operators.sketches import (
        ddsketch_bins,
        ddsketch_merge,
    )

    rng = random.Random(277)
    vals = [rng.uniform(0.01, 5000) for _ in range(2000)]
    single = {
        r.bin: r.cnt
        for r in ddsketch_bins(_values_df(spark, vals), "v").collect()
    }
    for trial in range(2):
        k = rng.randint(2, 5)
        parts = [[] for _ in range(k)]
        for v in vals:
            parts[rng.randrange(k)].append(v)
        hists = [
            ddsketch_bins(_values_df(spark, p), "v")
            for p in parts
            if p
        ]
        rng.shuffle(hists)
        merged = {
            r.bin: r.cnt for r in ddsketch_merge(*hists).collect()
        }
        assert merged == single, trial


# ---------------------------------------------------------------------------
# Batch-A round-13 additions: survival hazard, DW, skyline, item-item,
# RRF — each against a brute-force Python reference on randomized input.
# ---------------------------------------------------------------------------


def test_nelson_aalen_matches_brute_force(spark):
    from collection_templates_spark.operators.stats import nelson_aalen

    rng = random.Random(1301)
    units = [
        (rng.randint(1, 20), rng.random() < 0.7) for _ in range(300)
    ]
    df = spark.createDataFrame(units, "dur long, obs boolean")
    got = {
        r.t: (r.n_risk, r.d_events, r.cum_hazard, r.survival_fh)
        for r in nelson_aalen(df, "dur", "obs").collect()
    }
    # brute force
    h = 0.0
    exp = {}
    for t in sorted({d for d, _ in units}):
        n_risk = sum(1 for d, _ in units if d >= t)
        d_ev = sum(1 for d, o in units if d == t and o)
        h += round(d_ev / n_risk, 12)
        if d_ev > 0:
            exp[t] = (n_risk, d_ev, round(h, 6), round(math.exp(-h), 6))
    assert got == exp


def test_durbin_watson_matches_brute_force(spark):
    from collection_templates_spark.operators.stats import durbin_watson

    rng = random.Random(1303)
    rows = []
    for t in range(120):
        y = round(5.0 * t + 40.0 + rng.uniform(-30, 30), 2)
        rows.append((t, y))
    df = spark.createDataFrame(rows, "t long, y double")
    out = durbin_watson(df, "y", "t").collect()[0]
    n = len(rows)
    st = sum(t for t, _ in rows)
    sy = sum(y for _, y in rows)
    sty = sum(t * y for t, y in rows)
    stt = sum(t * t for t, _ in rows)
    b = (n * sty - st * sy) / (n * stt - st * st)
    a = (sy - b * st) / n
    e = [round(y - (a + b * t), 6) for t, y in rows]
    dw = sum(
        (e[i] - e[i - 1]) ** 2 for i in range(1, n)
    ) / sum(v * v for v in e)
    assert out.n == n
    assert abs(out.slope - b) <= 1e-6
    assert abs(out.intercept - a) <= 1e-6
    assert abs(out.dw - dw) <= 1e-5
    # residuals of a well-behaved iid fit should sit near DW = 2
    assert 1.0 < out.dw < 3.0


def test_skyline_2d_matches_brute_force(spark):
    from collection_templates_spark.operators.product_analytics import (
        skyline_2d,
    )

    rng = random.Random(1307)
    pts = [
        (rng.randint(0, 40), rng.randint(0, 40)) for _ in range(400)
    ]
    df = spark.createDataFrame(pts, "p long, q long")
    got = {(r.p, r.q, r.n_members) for r in skyline_2d(df, "p", "q").collect()}
    distinct = sorted(set(pts))
    exp = set()
    for p, q in distinct:
        dominated = any(
            (p2 <= p and q2 >= q and (p2 < p or q2 > q))
            for p2, q2 in distinct
        )
        if not dominated:
            exp.add((p, q, pts.count((p, q))))
    assert got == exp
    # frontier q strictly increases as p (smaller-better) grows —
    # a later point survives only by beating every earlier q
    frontier = sorted((p, q) for p, q, _ in got)
    qs = [q for _, q in frontier]
    assert qs == sorted(qs) and len(set(qs)) == len(qs)


def test_item_item_cosine_matches_brute_force(spark):
    from collection_templates_spark.operators.product_analytics import (
        item_item_cosine,
    )

    rng = random.Random(1311)
    rows = []
    for o in range(80):
        for p in rng.sample(range(12), rng.randint(1, 5)):
            rows.append((o, p))
            if rng.random() < 0.3:
                rows.append((o, p))  # duplicate lines collapse
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    )
    got = {
        (r.item, r.neighbor): (r.support, r.cosine, r.rank)
        for r in item_item_cosine(df, k=3).collect()
    }
    baskets = {}
    for o, p in set(rows):
        baskets.setdefault(o, set()).add(p)
    sup = {}
    pair = {}
    for b in baskets.values():
        for p in b:
            sup[p] = sup.get(p, 0) + 1
        for p in b:
            for q in b:
                if p != q:
                    pair[(p, q)] = pair.get((p, q), 0) + 1
    exp = {}
    for item in sup:
        cands = [
            (
                round(c / math.sqrt(sup[item] * sup[q]), 6),
                q,
                c,
            )
            for (p, q), c in pair.items()
            if p == item and c >= 2
        ]
        cands.sort(key=lambda x: (-x[0], x[1]))
        for rank, (cos, q, c) in enumerate(cands[:3], 1):
            exp[(item, q)] = (c, cos, rank)
    assert got == exp


def test_search_rrf_fusion_matches_rank_fusion(spark):
    from collection_templates_spark.operators.search import (
        search_corpus,
        search_rrf_fusion,
        search_tfidf_cosine,
    )

    # terms must be discriminative (df < N) or idf = 0 zeroes every score
    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(
                    (["spark"] * (i % 3))
                    + (["hash"] * (i % 4))
                    + (["join"] if i % 2 else [])
                    + ["sort", "merge", f"filler{i}"]
                ),
            )
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    lhs = {
        r.doc_id: r.rank
        for r in search_corpus(docs, "spark hash join", k=20).collect()
    }
    rhs = {
        r.doc_id: r.rank
        for r in search_tfidf_cosine(
            docs, "spark hash join", k=20
        ).collect()
    }
    scores = {}
    for d in set(lhs) | set(rhs):
        s = 0.0
        if d in lhs:
            s += 1.0 / (60 + lhs[d])
        if d in rhs:
            s += 1.0 / (60 + rhs[d])
        scores[d] = round(s, 6)
    exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r.doc_id, r.rrf_score, r.fused_rank)
        for r in search_rrf_fusion(
            docs, "spark hash join", k=10, pool=20
        ).orderBy("fused_rank").collect()
    ]
    assert [(d, s) for d, s, _ in got] == exp
    assert [r for _, _, r in got] == list(range(1, 11))


def test_power_iteration_matches_exact_python_replica(spark):
    """The operator's integer-micros ladder replicated exactly in pure
    Python (ints + the same byte-equivalent rounding) must reproduce
    the distributed result bit-for-bit; and on an anisotropic cloud the
    3-round iterate must capture (almost all of) the top eigenvalue."""
    import numpy as np

    from collection_templates_spark.operators.linalg import (
        _MICRO,
        _round_half_up,
        power_iteration_top_component,
    )

    rng = random.Random(1313)
    dim, n = 16, 400
    # dominant direction + noise
    axis = [1.0 if j < 4 else 0.1 for j in range(dim)]
    vecs = []
    for _ in range(n):
        t = rng.gauss(0, 1.0)
        vecs.append(
            [
                float(
                    np.float32(
                        t * axis[j] * 0.2 + rng.gauss(0, 0.02) + 0.05
                    )
                )
                for j in range(dim)
            ]
        )
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.pos: r
        for r in power_iteration_top_component(
            df, "embedding", dim=dim, iters=3
        ).collect()
    }

    # ---- exact Python replica of the spec ----
    X = [
        [int(_round_half_up(float(np.float32(x)), 6) * _MICRO) for x in row]
        for row in vecs
    ]
    m = [
        int(
            _round_half_up(
                float(sum(r[j] for r in X)) / float(n), 0
            )
        )
        for j in range(dim)
    ]
    C = [[r[j] - m[j] for j in range(dim)] for r in X]
    v = [_MICRO // 8] * dim

    def rnd_micro(x):
        h = _MICRO // 2
        return (x + h) // _MICRO if x >= 0 else -((-x + h) // _MICRO)

    for _ in range(3):
        d = [rnd_micro(sum(c[j] * v[j] for j in range(dim))) for c in C]
        w = [sum(d[i] * C[i][j] for i in range(n)) for j in range(dim)]
        wr = [_round_half_up(float(wj) / 1.0e12, 6) for wj in w]
        ssq = sum(r * r for r in wr)
        norm = math.sqrt(float(ssq))
        v = [int(_round_half_up(float(r) / norm, 6) * _MICRO) for r in wr]
    tr = sum(c[j] * c[j] for c in C for j in range(dim))
    eigval = norm / float(n - 1)
    explained = eigval / ((float(tr) / 1.0e12) / float(n - 1))

    for j in range(dim):
        assert got[j].loading == v[j] / float(_MICRO), j
        assert got[j].mean_x == m[j] / float(_MICRO), j
    assert float(got[0].eigval) == float(
        _round_half_up(eigval, 6)
    )
    assert float(got[0].explained_var) == float(
        _round_half_up(explained, 6)
    )

    # ---- eigen-sanity: Rayleigh quotient of the iterate vs numpy ----
    A = np.array(vecs, dtype=np.float64)
    A = A - A.mean(axis=0)
    cov = A.T @ A / (n - 1)
    top = float(np.linalg.eigvalsh(cov)[-1])
    u = np.array([got[j].loading for j in range(dim)])
    u = u / np.linalg.norm(u)
    rayleigh = float(u @ cov @ u)
    assert rayleigh >= 0.95 * top
    # unit iterate (to 6dp rounding)
    assert abs(np.linalg.norm(u) - 1.0) < 1e-4


def _dtw_brute(a, b, w):
    BIG = 10**15
    na, nb = len(a), len(b)
    D = [[BIG] * (nb + 1) for _ in range(na + 1)]
    for i in range(1, na + 1):
        for j in range(max(1, i - w), min(nb, i + w) + 1):
            c = abs(a[i - 1] - b[j - 1])
            if i == 1 and j == 1:
                D[i][j] = c
            else:
                best = min(D[i - 1][j], D[i][j - 1], D[i - 1][j - 1])
                D[i][j] = c + best if best < BIG else BIG
    return D[na][nb]


def test_dtw_matches_brute_force_dp(spark):
    from collection_templates_spark.operators.temporal import (
        dtw_to_reference,
    )

    rng = random.Random(1319)
    ref = [rng.randint(0, 100000) for _ in range(60)]
    groups = {
        "g_same_len": [rng.randint(0, 100000) for _ in range(60)],
        "g_shorter": [rng.randint(0, 100000) for _ in range(48)],
        "g_longer": [rng.randint(0, 100000) for _ in range(71)],
        "g_identical": list(ref),
    }
    rows = [
        (g, i, v)
        for g, series in groups.items()
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(rows, "grp string, ord long, cents long")
    got = {
        r.grp: (r.n_a, r.n_b, r.dtw_cents)
        for r in dtw_to_reference(
            df, "grp", "ord", "cents", ref, band_floor=15
        ).collect()
    }
    for g, series in groups.items():
        w = max(15, abs(len(series) - len(ref)) + 5)
        exp = _dtw_brute(series, ref, w)
        assert got[g] == (len(series), len(ref), exp), g
    # identical series within the band → exact zero distance
    assert got["g_identical"][2] == 0
    # shifted-by-one copy: DTW collapses the phase shift to the two
    # boundary cells, so distance <= first + last cost
    shifted = ref[1:] + [ref[-1]]
    df2 = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(shifted)],
        "grp string, ord long, cents long",
    )
    d2 = dtw_to_reference(
        df2, "grp", "ord", "cents", ref, band_floor=15
    ).collect()[0].dtw_cents
    assert d2 <= abs(ref[0] - ref[1]) + abs(ref[-1] - ref[-1])


def test_phash_dedup_recovers_planted_groups(spark):
    """Full image pipeline — closed-form pixels → REAL PNG encode →
    REAL decode → aHash → banded Hamming join — finds exactly the
    planted groups on a small corpus (4 groups of 5, one flipped pixel
    per doc)."""
    from collection_templates_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        image_ahash,
        synthetic_gray_png_media,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(20)], "doc_id long"
    )
    hashed = image_ahash(synthetic_gray_png_media(docs))
    got = {
        (r.id1, r.id2): r.hamming
        for r in ahash_near_dup_pairs(hashed, max_hamming=10).collect()
    }
    exp_pairs = {
        (a, b)
        for a in range(20)
        for b in range(a + 1, 20)
        if a // 5 == b // 5
    }
    assert set(got) == exp_pairs
    assert all(h <= 10 for h in got.values())
    # the flip is one pixel: in-group distances are a few bits, and at
    # least some pairs are non-identical (the hash reacts to content)
    assert max(got.values()) >= 1


def test_personalized_pagerank_brute_force_and_mass(spark):
    from collection_templates_spark.operators.graph import (
        personalized_pagerank,
    )

    rng = random.Random(1321)
    # random undirected graph on 30 nodes + a disconnected island
    und = set()
    for _ in range(60):
        a, b = rng.randint(0, 29), rng.randint(0, 29)
        if a != b:
            und.add((min(a, b), max(a, b)))
    und.add((40, 41))  # island, unreachable from seeds
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    got = {
        r.node: r.ppr
        for r in personalized_pagerank(df, seeds, iterations=3).collect()
    }
    # exact Python replica (9dp rounds mirrored via repo convention)
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    S = [1, 2, 3]
    r = {n: (1.0 / len(S) if n in S else 0.0) for n in nodes}
    pr = dict(r)
    for _ in range(3):
        s_in = {n: 0.0 for n in nodes}
        for a, b in edges:
            s_in[b] += round(pr[a] / out[a], 9)
        pr = {
            n: round(0.15 * r[n] + 0.85 * s_in[n], 9) for n in nodes
        }
    for n in nodes:
        assert got[n] == round(pr[n], 6), n
    # mass conservation (no dangling in the undirected projection)
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # the island never receives mass
    assert got[40] == 0.0 and got[41] == 0.0
    # a seed outranks the global median
    med = sorted(got.values())[len(got) // 2]
    assert got[1] > med


def test_holt_linear_matches_brute_force(spark):
    from collection_templates_spark.operators.temporal import (
        holt_linear_forecast,
    )

    rng = random.Random(1327)
    rows = []
    series = {}
    for g in ["up", "noisy"]:
        vals = []
        lvl = 10000
        for t in range(40):
            lvl += 150 if g == "up" else rng.randint(-400, 400)
            vals.append(max(lvl, 0))
            rows.append((g, t, vals[-1]))
        series[g] = vals
    df = spark.createDataFrame(rows, "grp string, ord long, cents long")
    got = {
        r.grp: r
        for r in holt_linear_forecast(df, "grp", "ord", "cents").collect()
    }

    def rnd(x, d):
        h = d // 2
        return (x + h) // d if x >= 0 else -((-x + h) // d)

    for g, vals in series.items():
        y = [v * 1_000_000 for v in vals]
        lv, b = y[1], y[1] - y[0]
        sae = sse = 0
        for t in range(2, len(y)):
            e = y[t] - (lv + b)
            sae += abs(e)
            sse += e * e
            ln = rnd(y[t] + lv + b, 2)
            b = rnd(ln - lv + 3 * b, 4)
            lv = ln
        r = got[g]
        assert (r.n, r.l_u, r.b_u, r.sae_u, r.sse_u2) == (
            len(y),
            lv,
            b,
            sae,
            str(sse),
        ), g
    # a clean linear ramp is tracked: trend ≈ +150 cents/day
    up = got["up"]
    assert abs(up.b_u / 1e6 - 150) < 30
    # short groups (n < 3) are skipped
    tiny = spark.createDataFrame(
        [("t", 0, 5), ("t", 1, 6)], "grp string, ord long, cents long"
    )
    assert holt_linear_forecast(tiny, "grp", "ord", "cents").count() == 0


def test_theta_difference_exact_below_k_and_bounded_above(spark):
    from collection_templates_spark.operators.sketches import (
        kmv_theta_differences,
    )

    # sets smaller than k=64 keep every hash (θ=1): AnotB is EXACT
    rows = [("A", v) for v in range(40)] + [
        ("B", v) for v in range(20, 50)
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    got = {
        (r.set_a, r.set_b): r
        for r in kmv_theta_differences(df).collect()
    }
    assert got[("A", "B")].n_exact == 20  # 0..19
    assert got[("A", "B")].n_est == 20.0
    assert got[("A", "B")].rel_err == 0.0
    assert got[("B", "A")].n_exact == 10  # 40..49
    assert got[("B", "A")].n_est == 10.0
    # large sets: estimate within the KMV error envelope
    rng = random.Random(1331)
    big = [("X", v) for v in range(3000)] + [
        ("Y", v) for v in range(1500, 6000)
    ]
    dfb = spark.createDataFrame(big, "event_type string, user_id long")
    gb = {
        (r.set_a, r.set_b): r
        for r in kmv_theta_differences(dfb).collect()
    }
    # |X∖Y| = 1500, |Y∖X| = 3000; k=64 → σ ≈ n/√k ≈ 12% — allow 4σ
    assert abs(gb[("X", "Y")].n_est - 1500) < 1500 * 0.5
    assert abs(gb[("Y", "X")].n_est - 3000) < 3000 * 0.5


@pytest.mark.slow
def test_hll_sliding_equals_direct_window_sketch(spark):
    """The trailing-window register merge equals the registers a direct
    single pass over the window's events would build (the max-merge
    identity applied along the time axis), for every window — checked
    by comparing the sliding estimates against per-window direct
    estimates computed independently."""
    import datetime

    from collection_templates_spark.operators.sketches import (
        hll_sliding_window_users,
    )

    rng = random.Random(1337)
    base = datetime.datetime(2024, 3, 1)
    rows = []
    for d in range(12):
        for _ in range(rng.randint(5, 60)):
            rows.append(
                (base + datetime.timedelta(days=d, hours=rng.randint(0, 23)),
                 rng.randint(0, 500))
            )
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    got = {
        r.day: (r.n_true, r.estimate)
        for r in hll_sliding_window_users(df, window_days=7).collect()
    }
    # exact n_true per trailing window
    by_day = {}
    for ts, u in rows:
        by_day.setdefault(ts.date(), set()).add(u)
    for day, (n_true, est) in got.items():
        win = set()
        for k in range(7):
            win |= by_day.get(day - datetime.timedelta(days=k), set())
        assert n_true == len(win), day
        # direct sketch over the window's events == sliding estimate
        sub = [
            (ts, u) for ts, u in rows
            if 0 <= (day - ts.date()).days <= 6
        ]
        dfw = spark.createDataFrame(sub, "ts timestamp, user_id long")
        direct = {
            r.day: r.estimate
            for r in hll_sliding_window_users(dfw, window_days=7).collect()
        }
        assert direct[day] == est, day
        # m=64 → σ ≈ 13%; allow a generous 4σ envelope
        assert abs(est - n_true) <= max(10, 0.6 * n_true), (day, est, n_true)


def test_sax_words_brute_force(spark):
    from collection_templates_spark.operators.temporal import sax_words

    rng = random.Random(1341)
    rows = []
    series = {}
    for g in ["flat", "ramp", "vee"]:
        vals = []
        for t in range(37):  # not divisible by 8: uneven tail buckets
            if g == "flat":
                v = 100.0
            elif g == "ramp":
                v = round(10.0 * t + rng.uniform(0, 5), 2)
            else:
                v = round(abs(t - 18) * 10.0 + rng.uniform(0, 5), 2)
            vals.append(round(v, 2))
            rows.append((g, t, vals[-1]))
        series[g] = vals
    df = spark.createDataFrame(rows, "grp string, ord long, v double")
    got = {
        r.grp: (r.n_points, r.n_segments, r.sax_word)
        for r in sax_words(df, "grp", "ord", "v", n_segments=8).collect()
    }
    for g, vals in series.items():
        n = len(vals)
        mu = sum(vals) / n
        sd = (sum((v - mu) ** 2 for v in vals) / (n - 1)) ** 0.5
        segs = {}
        for i, v in enumerate(vals):
            segs.setdefault(i * 8 // n, []).append(v)
        word = ""
        for s in sorted(segs):
            m = sum(segs[s]) / len(segs[s])
            z = round((m - mu) / sd, 6) if sd else None
            word += (
                "d" if z is None
                else "a" if z < -0.6745
                else "b" if z < 0.0
                else "c" if z < 0.6745
                else "d"
            )
        assert got[g] == (n, 8, word), (g, got[g], word)
    # a monotone ramp reads as a monotone word; flat (sd=0) is all 'd'
    assert got["ramp"][2] == "".join(sorted(got["ramp"][2]))
    assert got["flat"][2] == "dddddddd"


def test_breusch_pagan_brute_force_and_detection(spark):
    from collection_templates_spark.operators.stats import (
        breusch_pagan_1var,
    )

    rng = random.Random(1343)
    # homoscedastic series: BP small; fan-out series: BP large
    homo, fan = [], []
    for t in range(150):
        homo.append((t, round(5.0 * t + 100 + rng.uniform(-20, 20), 2)))
        fan.append(
            (t, round(5.0 * t + 100 + rng.uniform(-1, 1) * (1 + t), 2))
        )
    for rows, expect_het in [(homo, False), (fan, True)]:
        df = spark.createDataFrame(rows, "t long, y double")
        out = breusch_pagan_1var(df, "y", "t").collect()[0]
        n = len(rows)
        st = sum(t for t, _ in rows)
        sy = sum(y for _, y in rows)
        sty = sum(t * y for t, y in rows)
        stt = sum(t * t for t, _ in rows)
        b = (n * sty - st * sy) / (n * stt - st * st)
        a = (sy - b * st) / n
        e2 = [round(round(y - (a + b * t), 6) ** 2, 2) for t, y in rows]
        se2 = sum(e2)
        ste2 = sum(t * v for (t, _), v in zip(rows, e2))
        se2sq = sum(v * v for v in e2)
        num = n * ste2 - st * se2
        r2 = (num * num) / (
            (n * stt - st * st) * (n * se2sq - se2 * se2)
        )
        assert out.n == n
        assert abs(out.aux_r2 - r2) < 1e-6
        assert abs(out.bp_stat - n * r2) < 1e-4
        assert bool(out.heteroscedastic_95) is expect_het, rows[:2]
