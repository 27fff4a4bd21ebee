"""Definition-level cross-checks for the rank/eval family now entering
the driver's correctness window: the DuckDB oracle mirrors each
operator's CONSTRUCTION (histogram midranks, cumulative scans), so a
construction-level error would pass the gate. These tests compare
against the DIRECT mathematical definitions — O(n²) pairwise counts,
brute-force ECDF suprema, per-row rank sums — on seeded random data
with heavy ties (integer-valued), per operator."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from satellitetools_spark.operators import inference as INF
from satellitetools_spark.operators import modeleval as ME


def _rand_groups(seed, n=120, vmax=12):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 2, n)
    v = rng.randint(0, vmax, n).astype(float)
    return g, v


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_mann_whitney_u_matches_pairwise_definition(spark, seed):
    g, v = _rand_groups(seed)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(g, v)], "g int, v double")
    r = INF.mann_whitney_u(df, "g", "v").collect()[0]
    x1, x0 = v[g == 1], v[g == 0]
    u1 = sum((x1[:, None] > x0[None, :]).sum()
             for _ in [0]) + 0.5 * (x1[:, None] == x0[None, :]).sum()
    assert r["n0"] == len(x0) and r["n1"] == len(x1)
    assert r["u1"] == pytest.approx(float(u1), abs=1e-9)
    assert r["u0"] == pytest.approx(len(x0) * len(x1) - float(u1),
                                    abs=1e-9)


@pytest.mark.parametrize("seed", [2, 11])
def test_ks_matches_bruteforce_ecdf_sup(spark, seed):
    g, v = _rand_groups(seed, vmax=9)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(g, v)], "g int, v double")
    r = INF.ks_test(df, "g", "v").collect()[0]
    x0, x1 = np.sort(v[g == 0]), np.sort(v[g == 1])
    grid = np.unique(v)
    f0 = np.searchsorted(x0, grid, side="right") / len(x0)
    f1 = np.searchsorted(x1, grid, side="right") / len(x1)
    assert r["d"] == pytest.approx(float(np.abs(f0 - f1).max()),
                                   abs=1e-6)


@pytest.mark.parametrize("seed", [3, 13])
def test_roc_auc_matches_pairwise_probability(spark, seed):
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 2, 150)
    s = rng.randint(0, 10, 150).astype(float)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double")
    r = ME.roc_auc(df, "y", "s").collect()[0]
    sp, sn = s[y == 1], s[y == 0]
    auc = ((sp[:, None] > sn[None, :]).sum()
           + 0.5 * (sp[:, None] == sn[None, :]).sum()) / (
               len(sp) * len(sn))
    assert r["auc"] == pytest.approx(float(auc), abs=1e-6)
    assert r["gini"] == pytest.approx(2 * float(auc) - 1, abs=1e-5)


@pytest.mark.parametrize("seed", [5, 17])
def test_kendall_matches_bruteforce_pair_counts(spark, seed):
    rng = np.random.RandomState(seed)
    x = rng.randint(0, 7, 100)
    y = rng.randint(0, 5, 100)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(x, y)], "x int, y int")
    r = ME.kendall_tau_b(df, "x", "y").collect()[0]
    conc = disc = 0
    for i in range(len(x)):
        for j in range(i + 1, len(x)):
            p = (x[i] - x[j]) * (y[i] - y[j])
            conc += p > 0
            disc += p < 0
    assert r["concordant"] == conc and r["discordant"] == disc
    n = len(x)
    n0 = n * (n - 1) / 2
    tx = sum(c * (c - 1) / 2 for c in np.bincount(x))
    ty = sum(c * (c - 1) / 2 for c in np.bincount(y))
    tau = (conc - disc) / np.sqrt((n0 - tx) * (n0 - ty))
    assert r["tau_b"] == pytest.approx(float(tau), abs=1e-6)


@pytest.mark.parametrize("seed", [4, 19])
def test_wilcoxon_matches_direct_midranks(spark, seed):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 12, 90).astype(float)
    b = rng.randint(0, 12, 90).astype(float)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)],
        "a double, b double")
    r = INF.wilcoxon_signed_rank(df, "a", "b").collect()[0]
    d = a - b
    d = d[d != 0]
    ad = np.abs(d)
    order = np.argsort(ad, kind="mergesort")
    ranks = np.empty(len(ad))
    sorted_ad = ad[order]
    i = 0
    while i < len(ad):
        j = i
        while j < len(ad) and sorted_ad[j] == sorted_ad[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    wplus = ranks[d > 0].sum()
    assert r["n_nonzero"] == len(d)
    assert r["w_plus"] == pytest.approx(float(wplus), abs=1e-6)


@pytest.mark.parametrize("seed", [6, 29])
def test_average_precision_matches_step_definition(spark, seed):
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 2, 120)
    s = rng.randint(0, 8, 120).astype(float)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double")
    r = ME.average_precision(df, "y", "s").collect()[0]
    npos = y.sum()
    ap = 0.0
    prev_r = 0.0
    for t in sorted(set(s), reverse=True):
        sel = s >= t
        tp = y[sel].sum()
        rec = tp / npos
        prec = tp / sel.sum()
        ap += (rec - prev_r) * prec
        prev_r = rec
    assert r["ap"] == pytest.approx(float(ap), abs=1e-6)
    assert r["n_pos"] == int(npos)


@pytest.mark.parametrize("seed", [8, 31])
def test_kruskal_matches_direct_rank_definition(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 3, 120)
    v = rng.randint(0, 10, 120).astype(float)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(g, v)], "g int, v double")
    r = INF.kruskal_wallis(df, "g", "v").collect()[0]
    # direct midranks over the pooled sample
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v))
    sv = v[order]
    i = 0
    while i < len(v):
        j = i
        while j < len(v) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    n = len(v)
    h = 12.0 / (n * (n + 1)) * sum(
        ranks[g == k].sum() ** 2 / (g == k).sum()
        for k in np.unique(g)) - 3 * (n + 1)
    _, counts = np.unique(v, return_counts=True)
    corr = 1.0 - (counts.astype(float) ** 3 - counts).sum() / (
        n ** 3 - n)
    assert r["h"] == pytest.approx(float(h), abs=1e-5)
    assert r["h_adj"] == pytest.approx(float(h / corr), abs=1e-5)


@pytest.mark.parametrize("seed", [9, 37])
def test_median_test_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 3, 150)
    v = rng.randint(0, 15, 150).astype(float)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(g, v)], "g int, v double")
    rows = INF.median_test(df, "g", "v").collect()
    # grand LOWER median: smallest v with 2*cum >= n (the documented
    # convention), then the above/below 2xk table excluding == median
    sv = np.sort(v)
    med = sv[int(np.ceil(len(sv) / 2.0)) - 1]
    keep = v != med
    gk, vk = g[keep], v[keep]
    tot_above = (vk > med).sum()
    for r in rows:
        m = gk == r["grp"]
        assert r["n"] == int(m.sum())
        assert r["n_above"] == int((vk[m] > med).sum())
        assert r["expected_above"] == pytest.approx(
            m.sum() * tot_above / len(vk), abs=1e-5)


@pytest.mark.parametrize("seed", [10, 41])
def test_trimmed_stats_matches_direct_sort_based_trim(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 2, 140)
    v = rng.randint(0, 40, 140).astype(float)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(g, v)], "g int, v double")
    rows = {r["grp"]: r for r in
            INF.trimmed_stats(df, "v", "g", trim=0.1).collect()}
    for grp in np.unique(g):
        x = np.sort(v[g == grp])
        n = len(x)
        k = int(np.floor(0.1 * n))
        body = x[k:n - k]
        wins = np.concatenate([[x[k]] * k, body, [x[n - k - 1]] * k])
        r = rows[int(grp)]
        assert r["n"] == n and r["k"] == k
        assert r["mean"] == pytest.approx(float(x.mean()), abs=1e-5)
        assert r["trimmed_mean"] == pytest.approx(float(body.mean()),
                                                  abs=1e-5)
        assert r["winsor_mean"] == pytest.approx(float(wins.mean()),
                                                 abs=1e-5)
        assert r["v_lo"] == x[k] and r["v_hi"] == x[n - k - 1]


@pytest.mark.parametrize("seed", [12, 43])
def test_welch_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 2, 100)
    v = np.round(rng.randn(100) * (1 + g), 3)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(g, v)], "g int, v double")
    r = INF.welch_ttest(df, "g", "v").collect()[0]
    x0, x1 = v[g == 0], v[g == 1]
    se2 = x0.var(ddof=1) / len(x0) + x1.var(ddof=1) / len(x1)
    t = (x1.mean() - x0.mean()) / np.sqrt(se2)
    dof = se2 ** 2 / (
        (x0.var(ddof=1) / len(x0)) ** 2 / (len(x0) - 1)
        + (x1.var(ddof=1) / len(x1)) ** 2 / (len(x1) - 1))
    assert r["t_stat"] == pytest.approx(float(t), abs=1e-5)
    assert r["dof"] == pytest.approx(float(dof), abs=1e-4)
    assert r["diff"] == pytest.approx(float(x1.mean() - x0.mean()),
                                      abs=1e-6)


@pytest.mark.parametrize("seed", [14, 47])
def test_cohens_kappa_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 4, 200)
    noise = rng.randint(0, 4, 200)
    b = np.where(rng.rand(200) < 0.6, a, noise)   # correlated labels
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a int, b int")
    r = ME.cohens_kappa(df, "a", "b").collect()[0]
    po = (a == b).mean()
    pe = sum((a == k).mean() * (b == k).mean()
             for k in range(4))
    assert r["p_observed"] == pytest.approx(float(po), abs=1e-6)
    assert r["p_chance"] == pytest.approx(float(pe), abs=1e-6)
    assert r["kappa"] == pytest.approx(float((po - pe) / (1 - pe)),
                                       abs=1e-5)


@pytest.mark.parametrize("seed", [15, 53])
def test_bh_adjust_matches_direct_stepup(spark, seed):
    rng = np.random.RandomState(seed)
    ps = np.round(rng.rand(25) ** 2, 4)
    df = spark.createDataFrame(
        [(f"t{i}", float(p)) for i, p in enumerate(ps)],
        "key string, p_approx double")
    rows = {r["key"]: r for r in
            ME.bh_adjust(df, "key").collect()}
    # direct BH: sort ascending, raw_i = p_(i)*m/i, adjusted = running
    # min from the largest rank down, capped at 1
    order = sorted(range(len(ps)), key=lambda i: (ps[i], f"t{i}"))
    m = len(ps)
    raw = [ps[order[i]] * m / (i + 1) for i in range(m)]
    adj = raw[:]
    for i in range(m - 2, -1, -1):
        adj[i] = min(adj[i], adj[i + 1])
    for i, oi in enumerate(order):
        r = rows[f"t{oi}"]
        assert r["rank"] == i + 1
        assert r["p_adj"] == pytest.approx(min(1.0, adj[i]), abs=1e-6)


@pytest.mark.parametrize("seed", [16, 59])
def test_log_rank_matches_direct_fold(spark, seed):
    import datetime as dt
    rng = np.random.RandomState(seed)
    T0 = dt.datetime(2026, 1, 1)
    rows = []
    lifetimes = {}
    for u in range(80):
        life = int(rng.randint(1, 30))
        lifetimes[u] = life
        rows.append((u, T0))
        rows.append((u, T0 + dt.timedelta(days=life)))
    rows.append((999, T0 + dt.timedelta(days=60)))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    from satellitetools_spark.operators import temporal as TP
    r = TP.log_rank_test(df, "user_id % 2").collect()[0]
    # direct: per-user duration, died = (gmax_day - last_day) >= 7;
    # the day-60 sentinel's own lifetime is 0 with last day 60 (never
    # "died" — it pins the global max)
    recs = [(999 % 2, 0, False)]
    for u, life in lifetimes.items():
        died = (60 - life) > 7
        recs.append((u % 2, life, died))
    o1 = e1 = vv = 0.0
    for t in sorted({d for _g, d, _x in recs}):
        at0 = sum(1 for g, d, _x in recs if g == 0 and d >= t)
        at1 = sum(1 for g, d, _x in recs if g == 1 and d >= t)
        d0 = sum(1 for g, d, x in recs if g == 0 and d == t and x)
        d1 = sum(1 for g, d, x in recs if g == 1 and d == t and x)
        n, dd = at0 + at1, d0 + d1
        if dd == 0 or n == 0:
            continue
        o1 += d1
        e1 += dd * at1 / n
        if n > 1:
            vv += dd * (at1 / n) * (1 - at1 / n) * (n - dd) / (n - 1)
    assert r["observed1"] == int(o1)
    assert r["expected1"] == pytest.approx(e1, abs=1e-5)
    assert r["var"] == pytest.approx(vv, abs=1e-5)
    z = (o1 - e1) / np.sqrt(vv)
    assert r["z"] == pytest.approx(float(z), abs=1e-5)
    import math
    assert r["p_approx"] == pytest.approx(
        math.erfc(abs(z) / math.sqrt(2)), abs=1e-4)


@pytest.mark.parametrize("seed", [18, 61])
def test_mutual_information_matches_direct_entropies(spark, seed):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 4, 250)
    b = np.where(rng.rand(250) < 0.5, a, rng.randint(0, 4, 250))
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a int, b int")
    r = ME.mutual_information(df, "a", "b").collect()[0]

    def H(labels):
        _, c = np.unique(labels, return_counts=True)
        p = c / c.sum()
        return float(-(p * np.log(p)).sum())

    ha, hb = H(a), H(b)
    hab = H([f"{x}|{y}" for x, y in zip(a, b)])
    mi = ha + hb - hab
    assert r["h_a"] == pytest.approx(ha, abs=1e-6)
    assert r["h_b"] == pytest.approx(hb, abs=1e-6)
    assert r["h_ab"] == pytest.approx(hab, abs=1e-6)
    assert r["mi"] == pytest.approx(mi, abs=1e-6)
    assert r["nmi"] == pytest.approx(mi / np.sqrt(ha * hb), abs=1e-5)


@pytest.mark.parametrize("seed", [20, 67])
def test_cramers_v_matches_direct_chi2(spark, seed):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 3, 300)
    b = np.where(rng.rand(300) < 0.4, a % 4, rng.randint(0, 4, 300))
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a int, b int")
    r = ME.cramers_v(df, "a", "b").collect()[0]
    av, bv = np.unique(a), np.unique(b)
    n = len(a)
    chi2 = 0.0
    for x in av:
        for y in bv:
            o = ((a == x) & (b == y)).sum()
            e = (a == x).sum() * (b == y).sum() / n
            chi2 += (o - e) ** 2 / e
    v = np.sqrt(chi2 / (n * (min(len(av), len(bv)) - 1)))
    assert r["chi2"] == pytest.approx(float(chi2), abs=1e-4)
    assert r["v"] == pytest.approx(float(v), abs=1e-5)


@pytest.mark.parametrize("seed", [21, 71])
def test_js_divergence_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 2, 400)
    c = np.where(g == 1, rng.randint(0, 5, 400),
                 rng.randint(0, 6, 400))
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(g, c)], "g int, c int")
    r = ME.js_divergence(df, "g = 1", "c").collect()[0]
    cats = np.unique(c)
    p = np.array([(c[g == 0] == k).mean() for k in cats])
    q = np.array([(c[g == 1] == k).mean() for k in cats])
    m = (p + q) / 2

    def kl(x, y):
        mask = x > 0
        return float((x[mask] * np.log(x[mask] / y[mask])).sum())

    jsd = 0.5 * kl(p, m) + 0.5 * kl(q, m)
    assert r["jsd_nats"] == pytest.approx(jsd, abs=1e-6)
    assert r["jsd_bits"] == pytest.approx(jsd / np.log(2), abs=1e-5)


@pytest.mark.parametrize("seed", [22, 73])
def test_anova_f_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 4, 160)
    v = np.round(rng.randn(160) + g * 0.3, 3)
    df = spark.createDataFrame(
        [(int(x), float(y)) for x, y in zip(g, v)], "g int, v double")
    r = INF.anova_f(df, "g", "v").collect()[0]
    gm = v.mean()
    ssb = sum((v[g == k].mean() - gm) ** 2 * (g == k).sum()
              for k in np.unique(g))
    ssw = sum(((v[g == k] - v[g == k].mean()) ** 2).sum()
              for k in np.unique(g))
    k = len(np.unique(g))
    f = (ssb / (k - 1)) / (ssw / (len(v) - k))
    assert r["ss_between"] == pytest.approx(float(ssb), abs=1e-4)
    assert r["ss_within"] == pytest.approx(float(ssw), abs=1e-4)
    assert r["f_stat"] == pytest.approx(float(f), abs=1e-4)


@pytest.mark.parametrize("seed", [24, 79])
def test_brown_forsythe_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 3, 150)
    v = np.round(rng.randn(150) * (1 + g), 2)
    df = spark.createDataFrame(
        [(int(x), float(y)) for x, y in zip(g, v)], "g int, v double")
    r = INF.brown_forsythe(df, "g", "v").collect()[0]
    # z = |v - group LOWER median from the histogram convention|
    zs = np.empty(len(v))
    for k in np.unique(g):
        x = np.sort(v[g == k])
        med = x[int(np.ceil(len(x) / 2.0)) - 1]
        zs[g == k] = np.abs(v[g == k] - med)
    gm = zs.mean()
    ssb = sum((zs[g == k].mean() - gm) ** 2 * (g == k).sum()
              for k in np.unique(g))
    ssw = sum(((zs[g == k] - zs[g == k].mean()) ** 2).sum()
              for k in np.unique(g))
    kk = len(np.unique(g))
    f = (ssb / (kk - 1)) / (ssw / (len(v) - kk))
    assert r["f"] == pytest.approx(float(f), abs=1e-4)


@pytest.mark.parametrize("seed", [25, 83])
def test_mcnemar_matches_direct_counts(spark, seed):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 2, 300)
    b = np.where(rng.rand(300) < 0.7, a, 1 - a)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a int, b int")
    r = ME.mcnemar(df, "a = 1", "b = 1").collect()[0]
    b10 = int(((a == 1) & (b == 0)).sum())
    c01 = int(((a == 0) & (b == 1)).sum())
    assert r["b10"] == b10 and r["c01"] == c01


@pytest.mark.parametrize("seed", [26, 89])
def test_cuped_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    t = rng.randint(0, 2, 200)
    x = rng.randn(200)
    y = np.round(x * 0.8 + rng.randn(200) * 0.5 + t * 0.2, 4)
    x = np.round(x, 4)
    df = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in zip(t, y, x)],
        "t int, y double, x double")
    r = INF.cuped(df, "t = 1", "y", "x").collect()[0]
    theta = np.cov(y, x, ddof=1)[0, 1] / x.var(ddof=1)
    ya = y - theta * (x - x.mean())
    assert r["theta"] == pytest.approx(float(theta), abs=1e-4)
    assert r["diff_raw"] == pytest.approx(
        float(y[t == 1].mean() - y[t == 0].mean()), abs=1e-5)
    assert r["diff_adj"] == pytest.approx(
        float(ya[t == 1].mean() - ya[t == 0].mean()), abs=1e-5)


@pytest.mark.parametrize("seed", [27, 97])
def test_psi_matches_direct_smoothed_definition(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 2, 300)
    # bin centers only — the bin-edge rule is pinned elsewhere
    v = (rng.randint(0, 10, 300) + 0.5) / 10.0
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(g, v)], "g int, v double")
    rows = {r["bin"]: r for r in
            INF.psi(df, "g = 1", "v", 0.0, 1.0).collect()}
    nb = 12.0  # n_bins + under/overflow
    ce = np.array([((g == 0) & (np.floor(v * 10) == b)).sum()
                   for b in range(10)], dtype=float)
    ca = np.array([((g == 1) & (np.floor(v * 10) == b)).sum()
                   for b in range(10)], dtype=float)
    # under/overflow bins are empty but SMOOTHED: with unequal group
    # sizes pe != pa there, so they still contribute to the total
    ce = np.concatenate([[0.0], ce, [0.0]])
    ca = np.concatenate([[0.0], ca, [0.0]])
    pe = (ce + 0.5) / (ce.sum() + 0.5 * nb)
    pa = (ca + 0.5) / (ca.sum() + 0.5 * nb)
    total = float(((pa - pe) * np.log(pa / pe)).sum())
    pe, pa, ce, ca = pe[1:-1], pa[1:-1], ce[1:-1], ca[1:-1]
    for b in range(10):
        r = rows[b]
        assert r["n_expected"] == int(ce[b])
        assert r["p_expected"] == pytest.approx(float(pe[b]), abs=1e-6)
        assert r["contrib"] == pytest.approx(
            float((pa[b] - pe[b]) * np.log(pa[b] / pe[b])), abs=1e-6)
    assert rows[0]["psi_total"] == pytest.approx(total, abs=1e-5)


@pytest.mark.parametrize("seed", [28, 101])
def test_calibration_and_brier_match_direct_definitions(spark, seed):
    rng = np.random.RandomState(seed)
    s = (rng.randint(0, 10, 400) + 0.5) / 10.0
    y = (rng.rand(400) < s).astype(int)   # roughly calibrated
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double")
    cal = {r["bin"]: r for r in
           ME.calibration_bins(df, "y", "s").collect()}
    bins = np.floor(s * 10).astype(int)
    for b in np.unique(bins):
        m = bins == b
        r = cal[int(b)]
        assert r["n"] == int(m.sum())
        assert r["avg_score"] == pytest.approx(float(s[m].mean()),
                                               abs=1e-6)
        assert r["frac_pos"] == pytest.approx(float(y[m].mean()),
                                              abs=1e-6)
    br = ME.brier_decomposition(df, "y", "s").collect()[0]
    assert br["brier"] == pytest.approx(float(((s - y) ** 2).mean()),
                                        abs=1e-6)
    ybar = y.mean()
    rel = sum(((s[bins == b].mean() - y[bins == b].mean()) ** 2)
              * (bins == b).sum() for b in np.unique(bins)) / len(y)
    res = sum(((y[bins == b].mean() - ybar) ** 2) * (bins == b).sum()
              for b in np.unique(bins)) / len(y)
    ece = sum(abs(s[bins == b].mean() - y[bins == b].mean())
              * (bins == b).sum() for b in np.unique(bins)) / len(y)
    assert br["reliability"] == pytest.approx(float(rel), abs=1e-5)
    assert br["resolution"] == pytest.approx(float(res), abs=1e-5)
    assert br["uncertainty"] == pytest.approx(
        float(ybar * (1 - ybar)), abs=1e-6)
    assert br["ece"] == pytest.approx(float(ece), abs=1e-5)


@pytest.mark.parametrize("seed", [30, 103])
def test_woe_iv_matches_direct_smoothed_definition(spark, seed):
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 2, 300)
    c = rng.randint(0, 5, 300)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(y, c)], "y int, c int")
    rows = {r["category"]: r for r in
            ME.woe_iv(df, "y = 1", "c").collect()}
    cats = np.unique(c)
    kk = len(cats)
    tp, tn = (y == 1).sum(), (y == 0).sum()
    for k in cats:
        pos = ((c == k) & (y == 1)).sum()
        neg = ((c == k) & (y == 0)).sum()
        pp = (pos + 0.5) / (tp + 0.5 * kk)
        pn = (neg + 0.5) / (tn + 0.5 * kk)
        woe = np.log(pp / pn)
        r = rows[int(k)]
        assert r["n_pos"] == int(pos) and r["n_neg"] == int(neg)
        assert r["woe"] == pytest.approx(float(woe), abs=1e-5)
        assert r["iv"] == pytest.approx(float((pp - pn) * woe),
                                        abs=1e-6)


@pytest.mark.parametrize("seed", [32, 107])
def test_bland_altman_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    a = np.round(rng.randn(150) + 10, 3)
    b = np.round(a + rng.randn(150) * 0.2 + 0.1, 3)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)],
        "a double, b double")
    r = ME.bland_altman(df, "a", "b").collect()[0]
    d = a - b
    bias = d.mean()
    sd = d.std(ddof=1)
    assert r["bias"] == pytest.approx(float(bias), abs=1e-5)
    assert r["loa_lo"] == pytest.approx(float(bias - 1.96 * sd),
                                        abs=1e-4)
    assert r["loa_hi"] == pytest.approx(float(bias + 1.96 * sd),
                                        abs=1e-4)


@pytest.mark.parametrize("seed", [33, 109])
def test_confusion_at_threshold_matches_direct_counts(spark, seed):
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 2, 250)
    s = np.round(rng.rand(250), 3)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double")
    r = ME.confusion_at_threshold(df, "y", "s").collect()[0]
    pred = (s >= 0.5).astype(int)
    tp = int(((pred == 1) & (y == 1)).sum())
    fp = int(((pred == 1) & (y == 0)).sum())
    fn = int(((pred == 0) & (y == 1)).sum())
    tn = int(((pred == 0) & (y == 0)).sum())
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn)
    assert r["accuracy"] == pytest.approx((tp + tn) / len(y), abs=1e-6)
    prec, rec = tp / (tp + fp), tp / (tp + fn)
    assert r["precision"] == pytest.approx(prec, abs=1e-6)
    assert r["recall"] == pytest.approx(rec, abs=1e-6)
    assert r["f1"] == pytest.approx(
        2 * prec * rec / (prec + rec), abs=1e-5)
    mcc = (tp * tn - fp * fn) / np.sqrt(
        float(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    assert r["mcc"] == pytest.approx(float(mcc), abs=1e-5)


@pytest.mark.parametrize("seed", [34, 113])
def test_cumulative_gains_matches_direct_tie_safe_bucketing(spark,
                                                            seed):
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 2, 300)
    s = rng.randint(0, 25, 300).astype(float)   # heavy ties
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double")
    rows = {r["bucket"]: r for r in
            ME.cumulative_gains(df, "y = 1", "s").collect()}
    # direct: distinct scores DESC; a tie group goes WHOLE into bucket
    # ceil(10 * cum_n / N)
    n = len(s)
    by_s = {}
    for a, b in zip(y, s):
        c = by_s.setdefault(b, [0, 0])
        c[0] += 1
        c[1] += a
    cum = 0
    bucket_n = {}
    bucket_p = {}
    for sv in sorted(by_s, reverse=True):
        cn, cp = by_s[sv]
        cum += cn
        bkt = min(10, int(np.ceil(10.0 * cum / n)))
        bucket_n[bkt] = bucket_n.get(bkt, 0) + cn
        bucket_p[bkt] = bucket_p.get(bkt, 0) + cp
    npos = y.sum()
    cum_n = cum_p = 0
    for bkt in sorted(bucket_n):
        cum_n += bucket_n[bkt]
        cum_p += bucket_p[bkt]
        r = rows[bkt]
        assert r["n"] == bucket_n[bkt]
        assert r["n_pos"] == bucket_p[bkt]
        assert r["read_frac"] == pytest.approx(cum_n / n, abs=1e-6)
        assert r["gain"] == pytest.approx(cum_p / npos, abs=1e-6)
        assert r["lift"] == pytest.approx(
            (cum_p / npos) / (cum_n / n), abs=1e-5)


@pytest.mark.parametrize("seed", [35, 127])
def test_qini_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    t = rng.randint(0, 2, 400)
    y = (rng.rand(400) < (0.2 + 0.2 * t)).astype(int)
    s = (rng.randint(0, 10, 400) + 0.5) / 10.0   # bin centers
    df = spark.createDataFrame(
        [(int(a), int(b), float(c)) for a, b, c in zip(t, y, s)],
        "t int, y int, s double")
    rows = {r["bin"]: r for r in
            ME.qini_curve(df, "t = 1", "y = 1", "s").collect()}
    bins = np.floor(s * 10).astype(int)
    cn_t = cn_c = cr_t = cr_c = 0
    for b in sorted(np.unique(bins), reverse=True):
        m = bins == b
        n_t = int((t[m] == 1).sum())
        n_c = int((t[m] == 0).sum())
        r_t = int(y[m][t[m] == 1].sum())
        r_c = int(y[m][t[m] == 0].sum())
        cn_t += n_t
        cn_c += n_c
        cr_t += r_t
        cr_c += r_c
        r = rows[int(b)]
        assert r["n_t"] == n_t and r["n_c"] == n_c
        if n_t and n_c:
            assert r["uplift"] == pytest.approx(
                r_t / n_t - r_c / n_c, abs=1e-5)
        assert r["qini"] == pytest.approx(
            cr_t - cr_c * cn_t / cn_c, abs=1e-4)


@pytest.mark.parametrize("seed", [36, 131])
def test_heavy_hitters_matches_direct_exact_counts(spark, seed):
    from satellitetools_spark.operators.sketch import heavy_hitters
    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(30)]
    weights = np.array([30, 20, 10] + [1] * 27, dtype=float)
    weights /= weights.sum()
    rows = []
    all_tokens = []
    for d in range(60):
        toks = list(rng.choice(vocab, size=rng.randint(5, 30),
                               p=weights))
        all_tokens += toks
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    phi = 0.05
    got = {r["token"]: (r["cnt"], r["share"]) for r in
           heavy_hitters(docs, phi=phi).collect()}
    n = len(all_tokens)
    from collections import Counter
    want = {t: c for t, c in Counter(all_tokens).items()
            if c >= phi * n}
    assert set(got) == set(want)
    for t, c in want.items():
        assert got[t][0] == c
        assert got[t][1] == pytest.approx(c / n, abs=1e-6)


@pytest.mark.parametrize("seed", [38, 137])
def test_hosmer_lemeshow_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    s = (rng.randint(0, 10, 500) + 0.5) / 10.0
    y = (rng.rand(500) < s).astype(int)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double")
    r = ME.hosmer_lemeshow(df, "y", "s").collect()[0]
    bins = np.floor(s * 10).astype(int)
    h = 0.0
    gg = dg = 0
    for b in np.unique(bins):
        m = bins == b
        nk = m.sum()
        ok = y[m].sum()
        ek = s[m].sum()
        denom = ek * (1 - ek / nk)
        gg += 1
        if denom <= 0:
            dg += 1
            continue
        h += (ok - ek) ** 2 / denom
    assert r["g"] == gg and r["n_degenerate"] == dg
    assert r["h"] == pytest.approx(float(h), abs=1e-4)
    assert r["dof"] == gg - dg - 2


@pytest.mark.parametrize("seed", [39, 139])
def test_fairness_report_matches_direct_definition(spark, seed):
    rng = np.random.RandomState(seed)
    g = rng.randint(0, 3, 400)
    y = rng.randint(0, 2, 400)
    pred = ((rng.rand(400) + 0.1 * g) > 0.5).astype(int)
    df = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(g, y, pred)],
        "g int, y int, p int")
    rows = {r["grp"]: r for r in
            ME.fairness_report(df, "y", "p = 1", "g").collect()}
    sel_all = {k: pred[g == k].mean() for k in np.unique(g)}
    ref_sel = max(sel_all.values())
    for k in np.unique(g):
        m = g == k
        r = rows[int(k)]
        assert r["n"] == int(m.sum())
        assert r["selection_rate"] == pytest.approx(
            float(pred[m].mean()), abs=1e-6)
        tpr = pred[m & (y == 1)].mean()
        fpr = pred[m & (y == 0)].mean()
        assert r["tpr"] == pytest.approx(float(tpr), abs=1e-6)
        assert r["fpr"] == pytest.approx(float(fpr), abs=1e-6)


@pytest.mark.parametrize("seed", [40, 149])
def test_retrieval_metrics_match_direct_definitions(spark, seed):
    from satellitetools_spark.operators.similarity import \
        retrieval_metrics
    rng = np.random.RandomState(seed)
    n, d, k = 50, 8, 5
    vecs = rng.randn(n, d)
    labels = rng.randint(0, 3, n)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], int(labels[i]))
         for i in range(n)],
        "vec_id long, embedding array<double>, label int")
    qids = [0, 1, 2]
    rows = {r["query_id"]: r for r in
            retrieval_metrics(emb, qids, k=k).collect()}
    norms = np.linalg.norm(vecs, axis=1)
    for q in qids:
        cos = vecs @ vecs[q] / (norms * norms[q])
        order = [i for i in np.argsort(-cos, kind="stable") if i != q]
        # deterministic (cos DESC, id ASC) tie order
        order = sorted(order[:n],
                       key=lambda i: (-cos[i], i))[:k]
        rel = [1.0 if labels[i] == labels[q] else 0.0 for i in order]
        hits = sum(rel)
        dcg = sum(r / np.log2(rk + 2) for rk, r in enumerate(rel))
        n_rel = int((labels == labels[q]).sum() - 1)
        idcg = sum(1.0 / np.log2(i + 2)
                   for i in range(min(k, n_rel)))
        rr = 0.0
        for rk, r in enumerate(rel):
            if r:
                rr = 1.0 / (rk + 1)
                break
        r = rows[q]
        assert r["n_rel"] == n_rel
        assert r["hits"] == int(hits)
        assert r["precision_k"] == pytest.approx(hits / k, abs=1e-6)
        assert r["rr"] == pytest.approx(rr, abs=1e-6)
        assert r["dcg"] == pytest.approx(float(dcg), abs=1e-5)
        assert r["idcg"] == pytest.approx(float(idcg), abs=1e-5)
        assert r["ndcg"] == pytest.approx(float(dcg / idcg), abs=1e-5)


@pytest.mark.parametrize("seed", [42, 151])
def test_vocab_richness_matches_direct_chao1(spark, seed):
    from collections import Counter
    import re
    from satellitetools_spark.operators.text import vocab_richness
    rng = np.random.RandomState(seed)
    vocab = [f"tok{i}" for i in range(60)]
    w = 1.0 / (np.arange(60) + 1.0)
    w /= w.sum()
    rows = [(d, " ".join(rng.choice(vocab, size=rng.randint(3, 25),
                                    p=w)))
            for d in range(50)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    r = vocab_richness(docs).collect()[0]
    toks = []
    for _d, t in rows:
        toks += re.findall(r"[a-z0-9]+", t.lower())
    c = Counter(toks)
    f1 = sum(1 for v in c.values() if v == 1)
    f2 = sum(1 for v in c.values() if v == 2)
    s_obs = len(c)
    n = len(toks)
    chao1 = (s_obs + f1 * f1 / (2.0 * f2) if f2 > 0
             else s_obs + f1 * (f1 - 1.0) / 2.0)
    assert r["n_tokens"] == n and r["n_types"] == s_obs
    assert r["f1"] == f1 and r["f2"] == f2
    assert r["chao1"] == pytest.approx(chao1, abs=1e-5)
    assert r["coverage"] == pytest.approx(1.0 - f1 / n, abs=1e-6)


@pytest.mark.parametrize("seed", [44, 157])
def test_adamic_adar_matches_direct_definition(spark, seed):
    from collections import defaultdict
    from satellitetools_spark.operators.graph import adamic_adar
    rng = np.random.RandomState(seed)
    edges = set()
    for _ in range(60):
        u, v = rng.randint(0, 15, 2)
        if u != v:
            edges.add((f"n{min(u, v)}", f"n{max(u, v)}"))
    pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])
    got = {(r["u"], r["v"]): r for r in adamic_adar(pairs).collect()}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    want = {}
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if v in adj[u]:
                continue  # only NON-adjacent pairs are scored
            common = adj[u] & adj[v]
            if not common:
                continue
            aa = sum(1.0 / np.log(len(adj[z])) for z in common
                     if len(adj[z]) > 1)
            jac = len(common) / len(adj[u] | adj[v])
            want[(u, v)] = (len(common), aa, jac)
    assert set(got) == set(want)
    for key, (cn, aa, jac) in want.items():
        r = got[key]
        assert r["common_neighbors"] == cn
        assert r["adamic_adar"] == pytest.approx(aa, abs=1e-5)
        assert r["jaccard_coef"] == pytest.approx(jac, abs=1e-5)


@pytest.mark.parametrize("seed", [45, 163])
def test_k_core_matches_direct_peeling(spark, seed):
    from collections import defaultdict
    from satellitetools_spark.operators.graph import k_core
    rng = np.random.RandomState(seed)
    edges = set()
    for _ in range(70):
        u, v = rng.randint(0, 18, 2)
        if u != v:
            edges.add((f"n{min(u, v)}", f"n{max(u, v)}"))
    pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])
    k = 3
    got = {r["node"]: r["core_deg"]
           for r in k_core(pairs, k=k, rounds=20).collect()}
    # direct peeling to convergence
    alive = set()
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
        alive.update((a, b))
    changed = True
    while changed:
        changed = False
        for n in list(alive):
            deg = len(adj[n] & alive)
            if deg < k:
                alive.discard(n)
                changed = True
    want = {n: len(adj[n] & alive) for n in alive}
    assert got == want


@pytest.mark.parametrize("seed", [46, 167])
def test_rbo_matches_direct_prefix_formula(spark, seed):
    from satellitetools_spark.operators.similarity import \
        rank_biased_overlap
    rng = np.random.RandomState(seed)
    k, p = 8, 0.9
    qs = [0, 1]
    rows_l, rows_r = [], []
    lists = {}
    for q in qs:
        li = list(rng.permutation(20)[:k])
        ri = list(rng.permutation(20)[:k])
        lists[q] = (li, ri)
        rows_l += [(q, int(x), i + 1) for i, x in enumerate(li)]
        rows_r += [(q, int(x), i + 1) for i, x in enumerate(ri)]
    left = spark.createDataFrame(
        rows_l, "query_id int, neighbor_id int, rank int")
    right = spark.createDataFrame(
        rows_r, "query_id int, neighbor_id int, rank int")
    got = {r["query_id"]: r["rbo"] for r in
           rank_biased_overlap(left, right, k=k, p=p).collect()}
    for q in qs:
        li, ri = lists[q]
        rbo = 0.0
        for d in range(1, k + 1):
            a_d = len(set(li[:d]) & set(ri[:d])) / d
            rbo += (1 - p) * p ** (d - 1) * a_d
        assert got[q] == pytest.approx(rbo, abs=1e-5)


def test_span_profile_matches_direct_python_fold(spark):
    # definition check over the REAL sf0.001 interleaved docs: the
    # operator's JVM array folds vs a plain Python loop over the same
    # parquet rows (per-row span-sequence semantics, the input_hint
    # invariant surface)
    import os
    from satellitetools_spark.datagen import ensure_geodata
    from satellitetools_spark.sources.docs import span_profile
    d = ensure_geodata("sf0.001")
    docs = spark.read.parquet(os.path.join(d, "docs.parquet"))
    got = {r["doc_id"]: r for r in span_profile(docs).collect()}
    rows = docs.select("doc_id", "spans").collect()
    assert len(rows) > 0
    for row in rows:
        spans = row["spans"]
        kinds = [s["kind"] for s in spans]
        texts = [s for s in spans if s["kind"] == "text"]
        n_text = len(texts)
        chars = sum(len(s["text"]) for s in texts
                    if s["text"] is not None)
        trans = sum(1 for a, b in zip(kinds, kinds[1:]) if a != b)
        r = got[row["doc_id"]]
        assert r["n_spans"] == len(spans)
        assert r["n_text"] == n_text
        assert r["n_media"] == len(spans) - n_text
        assert r["text_chars"] == chars
        assert r["n_transitions"] == trans
        if len(spans):
            assert r["first_kind"] == kinds[0]
            assert r["last_kind"] == kinds[-1]


def _grid_dem(spark, seed, nx=8, ny=8, cell=160.0):
    rng = np.random.RandomState(seed)
    elev = np.round(100 + 50 * rng.rand(ny, nx), 3)
    rows = [(int(iy) * (2 ** 32) + int(ix), float(elev[iy, ix]))
            for iy in range(ny) for ix in range(nx)]
    dem = spark.createDataFrame(rows, "cell long, elevation double")
    return dem, elev


@pytest.mark.parametrize("seed", [48, 173])
def test_hillshade_matches_direct_horn_kernel(spark, seed):
    from satellitetools_spark.operators.spatial import hillshade
    cell = 160.0
    dem, elev = _grid_dem(spark, seed, cell=cell)
    got = {(r["ix"], r["iy"]): r
           for r in hillshade(dem, cell_m=cell).collect()}
    ny, nx = elev.shape
    az = np.radians(360.0 - 315.0 + 90.0)
    alt = np.radians(45.0)
    # interior cells only (full 3x3 stencil), Horn/ESRI gradients
    for iy in range(1, ny - 1):
        for ix in range(1, nx - 1):
            z = elev[iy - 1:iy + 2, ix - 1:ix + 2]
            dzdx = ((z[0, 2] + 2 * z[1, 2] + z[2, 2])
                    - (z[0, 0] + 2 * z[1, 0] + z[2, 0])) / (8 * cell)
            dzdy = ((z[2, 0] + 2 * z[2, 1] + z[2, 2])
                    - (z[0, 0] + 2 * z[0, 1] + z[0, 2])) / (8 * cell)
            slope = np.arctan(np.hypot(dzdx, dzdy))
            aspect = np.arctan2(dzdy, -dzdx)
            shade = max(0.0, 255.0 * (
                np.sin(alt) * np.cos(slope)
                + np.cos(alt) * np.sin(slope) * np.cos(az - aspect)))
            r = got[(ix, iy)]
            assert r["slope_deg"] == pytest.approx(
                float(np.degrees(slope)), abs=1e-4)
            assert r["aspect_rad"] == pytest.approx(float(aspect),
                                                    abs=1e-4)
            assert r["hillshade"] == pytest.approx(float(shade),
                                                   abs=1e-3)
    # edges dropped
    assert (0, 0) not in got and (nx - 1, ny - 1) not in got


@pytest.mark.parametrize("seed", [49, 179])
def test_morans_i_matches_direct_queen_definition(spark, seed):
    from satellitetools_spark.operators.spatial import (dem_pixels,
                                                        morans_i)
    dem, elev = _grid_dem(spark, seed)
    r = morans_i(dem_pixels(dem, cell_m=160.0)).collect()[0]
    ny, nx = elev.shape
    z = elev - elev.mean()
    num = 0.0
    w = 0
    for iy in range(ny):
        for ix in range(nx):
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dx == 0 and dy == 0:
                        continue
                    jx, jy = ix + dx, iy + dy
                    if 0 <= jx < nx and 0 <= jy < ny:
                        num += z[iy, ix] * z[jy, jx]
                        w += 1
    n = nx * ny
    i_stat = (n / w) * num / (z * z).sum()
    assert r["n_cells"] == n and r["w_links"] == w
    assert r["moran_i"] == pytest.approx(float(i_stat), abs=1e-5)
    assert r["e_i"] == pytest.approx(-1.0 / (n - 1), abs=1e-6)


@pytest.mark.parametrize("seed", [50, 181])
def test_geary_c_matches_direct_queen_definition(spark, seed):
    from satellitetools_spark.operators.spatial import (dem_pixels,
                                                        geary_c)
    dem, elev = _grid_dem(spark, seed)
    r = geary_c(dem_pixels(dem, cell_m=160.0)).collect()[0]
    ny, nx = elev.shape
    num = 0.0
    w = 0
    for iy in range(ny):
        for ix in range(nx):
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dx == 0 and dy == 0:
                        continue
                    jx, jy = ix + dx, iy + dy
                    if 0 <= jx < nx and 0 <= jy < ny:
                        num += (elev[iy, ix] - elev[jy, jx]) ** 2
                        w += 1
    n = nx * ny
    ss = ((elev - elev.mean()) ** 2).sum()
    c = (n - 1) * num / (2 * w * ss)
    assert r["n_cells"] == n and r["w_links"] == w
    assert r["geary_c"] == pytest.approx(float(c), abs=1e-5)
    assert r["e_c"] == 1.0


@pytest.mark.parametrize("seed", [51, 191])
def test_zonal_stats_matches_direct_group_moments(spark, seed):
    from satellitetools_spark.operators.spatial import (dem_pixels,
                                                        with_cell,
                                                        zonal_stats)
    dem, elev = _grid_dem(spark, seed)
    ny, nx = elev.shape
    cells = [(int(iy) * (2 ** 32) + int(ix), (ix + iy) % 3)
             for iy in range(ny) for ix in range(nx)]
    zones = spark.createDataFrame(cells, "cell long, zone int")
    px = with_cell(dem_pixels(dem, cell_m=160.0), 160.0)
    rows = {r["zone"]: r for r in
            zonal_stats(px, zones, "elevation").collect()}
    zmap = {c: z for c, z in cells}
    by_zone = {}
    for iy in range(ny):
        for ix in range(nx):
            z = zmap[iy * (2 ** 32) + ix]
            by_zone.setdefault(z, []).append(elev[iy, ix])
    for z, vals in by_zone.items():
        v = np.array(vals)
        r = rows[z]
        assert r["n"] == len(v)
        assert r["mean_v"] == pytest.approx(float(v.mean()), abs=1e-5)
        assert r["min_v"] == pytest.approx(float(v.min()), abs=1e-6)
        assert r["max_v"] == pytest.approx(float(v.max()), abs=1e-6)
        assert r["std_v"] == pytest.approx(float(v.std(ddof=0)),
                                           abs=1e-5)


@pytest.mark.parametrize("seed", [52, 193])
def test_getis_ord_gstar_matches_direct_definition(spark, seed):
    from satellitetools_spark.operators.spatial import (dem_pixels,
                                                        getis_ord_gstar)
    dem, elev = _grid_dem(spark, seed, nx=6, ny=6)
    got = {(r["ix"], r["iy"]): r for r in
           getis_ord_gstar(dem_pixels(dem, cell_m=160.0)).collect()}
    ny, nx = elev.shape
    n = nx * ny
    xbar = elev.mean()
    s = np.sqrt((elev ** 2).mean() - xbar ** 2)   # population S
    for iy in range(ny):
        for ix in range(nx):
            nb = []
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    jx, jy = ix + dx, iy + dy
                    if 0 <= jx < nx and 0 <= jy < ny:
                        nb.append(elev[jy, jx])
            wi = len(nb)
            num = sum(nb) - wi * xbar
            den = s * np.sqrt((n * wi - wi * wi) / (n - 1))
            z = num / den
            r = got[(ix, iy)]
            assert r["w_i"] == wi
            assert r["gi_z"] == pytest.approx(float(z), abs=1e-4)


@pytest.mark.parametrize("seed", [53, 197])
def test_mann_kendall_matches_direct_definition(spark, seed):
    import datetime as dt
    from satellitetools_spark.operators.temporal import mann_kendall
    rng = np.random.RandomState(seed)
    v = np.round(np.arange(14) * 0.5 + rng.randint(0, 3, 14), 2)
    ser = spark.createDataFrame(
        [("a", dt.date(2024, 1, 1 + i), float(v[i]))
         for i in range(14)],
        "aoi string, date date, v double")
    r = mann_kendall(ser, ("aoi",), "date", "v").collect()[0]
    n = len(v)
    s = sum(np.sign(v[j] - v[i])
            for i in range(n) for j in range(i + 1, n))
    _, ties = np.unique(v, return_counts=True)
    var_s = (n * (n - 1) * (2 * n + 5)
             - sum(t * (t - 1) * (2 * t + 5) for t in ties)) / 18.0
    if s > 0:
        z = (s - 1) / np.sqrt(var_s)
    elif s < 0:
        z = (s + 1) / np.sqrt(var_s)
    else:
        z = 0.0
    slopes = sorted((v[j] - v[i]) / (j - i)
                    for i in range(n) for j in range(i + 1, n))
    sen = float(np.median(slopes))
    assert r["s_stat"] == int(s)
    assert r["var_s"] == pytest.approx(float(var_s), abs=1e-4)
    assert r["mk_z"] == pytest.approx(float(z), abs=1e-4)
    assert r["sen_slope"] == pytest.approx(sen, abs=1e-5)


@pytest.mark.parametrize("seed", [54, 199])
def test_acf_matches_direct_standard_estimator(spark, seed):
    import datetime as dt
    from satellitetools_spark.operators.temporal import acf
    rng = np.random.RandomState(seed)
    v = np.round(np.sin(np.arange(30) / 3.0) + rng.randn(30) * 0.2, 3)
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
          float(v[i])) for i in range(30)],
        "user_id int, ts timestamp, value double")
    r = acf(df, ("user_id",), max_lag=3).collect()[0]
    mu = v.mean()
    denom = ((v - mu) ** 2).sum()
    for k in (1, 2, 3):
        rk = ((v[k:] - mu) * (v[:-k] - mu)).sum() / denom
        assert r[f"acf_{k}"] == pytest.approx(float(rk), abs=1e-5)


@pytest.mark.parametrize("seed", [55, 211])
def test_kaplan_meier_matches_direct_product_limit(spark, seed):
    import datetime as dt
    from satellitetools_spark.operators.temporal import kaplan_meier
    rng = np.random.RandomState(seed)
    T0 = dt.datetime(2026, 1, 1)
    rows = []
    lifetimes = {}
    for u in range(50):
        life = int(rng.randint(1, 40))
        lifetimes[u] = life
        rows.append((u, T0))
        rows.append((u, T0 + dt.timedelta(days=life)))
    rows.append((999, T0 + dt.timedelta(days=45)))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    got = {r["dur_days"]: r for r in kaplan_meier(df).collect()}
    # direct product-limit: dur per user; died = (45 - life) >= 7;
    # the day-45 sentinel is one more (censored) duration-0 subject
    recs = [(0, False)] + [
        (life, (45 - life) > 7) for life in lifetimes.values()]
    surv = 1.0
    for t in sorted({d for d, _x in recs}):
        at = sum(1 for d, _x in recs if d >= t)
        dd = sum(1 for d, x in recs if d == t and x)
        cc = sum(1 for d, x in recs if d == t and not x)
        if t in got:
            r = got[t]
            assert r["n_risk"] == at
            assert r["d_events"] == dd
            assert r["c_censored"] == cc
        if dd:
            surv *= 1.0 - dd / at
            assert got[t]["survival"] == pytest.approx(surv, abs=1e-5)


@pytest.mark.parametrize("seed", [56, 223])
def test_join_counts_matches_direct_definition(spark, seed):
    from satellitetools_spark.operators.spatial import join_counts
    rng = np.random.RandomState(seed)
    nx = ny = 7
    fg = rng.rand(ny, nx) < 0.4
    rows = [("d", ix, iy, bool(fg[iy, ix]))
            for ix in range(nx) for iy in range(ny)]
    df = spark.createDataFrame(rows,
                               "doc_id string, ix int, iy int, f boolean")
    r = join_counts(df, "f").collect()[0]
    bb = ww = bw = w = 0
    for iy in range(ny):
        for ix in range(nx):
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dx == 0 and dy == 0:
                        continue
                    jx, jy = ix + dx, iy + dy
                    if 0 <= jx < nx and 0 <= jy < ny:
                        w += 1
                        a, b = fg[iy, ix], fg[jy, jx]
                        if a and b:
                            bb += 1
                        elif not a and not b:
                            ww += 1
                        else:
                            bw += 1
    # engine counts DIRECTED links (each unordered pair twice),
    # consistently in both the observed and expected columns
    n = nx * ny
    p = fg.mean()
    assert r["n_cells"] == n and r["w_links"] == w
    assert (r["bb"], r["ww"], r["bw"]) == (bb, ww, bw)
    assert r["e_bb"] == pytest.approx(w * p * p, abs=1e-3)
    assert r["e_ww"] == pytest.approx(w * (1 - p) * (1 - p), abs=1e-3)
    assert r["e_bw"] == pytest.approx(w * 2 * p * (1 - p), abs=1e-3)


@pytest.mark.parametrize("seed", [57, 227])
def test_grid_dbscan_matches_direct_clustering(spark, seed):
    from collections import deque
    from satellitetools_spark.operators.spatial import grid_dbscan
    rng = np.random.RandomState(seed)
    pts = {(int(ix), int(iy))
           for ix, iy in zip(rng.randint(0, 12, 50),
                             rng.randint(0, 12, 50))}
    df = spark.createDataFrame(
        [("d", ix, iy) for ix, iy in sorted(pts)],
        "doc_id string, ix int, iy int")
    got = {(r["ix"], r["iy"]): r
           for r in grid_dbscan(df, min_pts=4).collect()}
    # direct DBSCAN on the queen graph (eps = one step, closed
    # neighborhood counts)
    def nbrs(c):
        return [(c[0] + dx, c[1] + dy)
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                if (dx or dy) and (c[0] + dx, c[1] + dy) in pts]

    core = {c for c in pts if 1 + len(nbrs(c)) >= 4}
    label = {}
    for c in sorted(core):
        if c in label:
            continue
        q = deque([c])
        label[c] = c
        while q:
            cur = q.popleft()
            for nb in nbrs(cur):
                if nb in core and nb not in label:
                    label[nb] = c
                    q.append(nb)
    for c in sorted(pts - core):
        cn = [n for n in nbrs(c) if n in core]
        if cn:
            label[c] = "border"
    for c in pts:
        r = got[c]
        assert r["n_in_neigh"] == 1 + len(nbrs(c))
        if c in core:
            assert r["role"] == "core"
        elif c in label:
            assert r["role"] == "border"
        else:
            assert r["role"] == "noise"
    # cluster partition of CORE cells must match the connected
    # components exactly (label values may differ)
    comp = {}
    for c in core:
        comp.setdefault(label[c], set()).add(c)
    eng = {}
    for c in core:
        eng.setdefault(got[c]["label"], set()).add(c)
    assert sorted(map(sorted, comp.values())) == \
        sorted(map(sorted, eng.values()))


@pytest.mark.parametrize("seed", [58, 229])
def test_runs_test_matches_direct_definition(spark, seed):
    import datetime as dt
    from satellitetools_spark.operators.temporal import runs_test
    rng = np.random.RandomState(seed)
    v = rng.randint(0, 9, 40).astype(float)
    df = spark.createDataFrame(
        [(1, i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
          float(v[i])) for i in range(40)],
        "user_id int, event_id int, ts timestamp, value double")
    r = runs_test(df, ("user_id",)).collect()[0]
    # lower median from the distinct histogram convention
    sv = np.sort(v)
    med = sv[int(np.ceil(len(sv) / 2.0)) - 1]
    signs = [1 if x > med else 0 for x in v if x != med]
    n1 = sum(signs)
    n0 = len(signs) - n1
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    mu = 1.0 + 2.0 * n1 * n0 / (n1 + n0)
    var = (2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)
           / ((n1 + n0) ** 2 * (n1 + n0 - 1)))
    z = (runs - mu) / np.sqrt(var)
    assert r["n_above"] == n1 and r["n_below"] == n0
    assert r["n_runs"] == runs
    assert r["mu_runs"] == pytest.approx(mu, abs=1e-5)
    assert r["z"] == pytest.approx(float(z), abs=1e-4)


@pytest.mark.parametrize("seed", [59, 233])
def test_mad_anomaly_matches_direct_robust_z(spark, seed):
    import datetime as dt
    from satellitetools_spark.operators.temporal import mad_anomaly
    rng = np.random.RandomState(seed)
    v = np.concatenate([rng.randint(10, 20, 38).astype(float),
                        [95.0, -40.0]])
    df = spark.createDataFrame(
        [(1, i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
          float(v[i])) for i in range(40)],
        "user_id int, event_id int, ts timestamp, value double")
    got = {r["event_id"]: r["rz"]
           for r in mad_anomaly(df, ("user_id",)).collect()}
    sv = np.sort(v)
    med = sv[int(np.ceil(len(sv) / 2.0)) - 1]
    ad = np.sort(np.abs(v - med))
    mad = ad[int(np.ceil(len(ad) / 2.0)) - 1]
    # outliers must be flagged with the classic 0.6745 scaling
    for i in (38, 39):
        rz = 0.6745 * (v[i] - med) / mad
        assert got[i] == pytest.approx(float(rz), abs=1e-3)


@pytest.mark.parametrize("seed", [60, 239])
def test_benford_matches_direct_first_digit_counts(spark, seed):
    from satellitetools_spark.operators.checks import benford
    rng = np.random.RandomState(seed)
    vals = np.round(np.exp(rng.uniform(0, 10, 500)), 2)
    df = spark.createDataFrame(
        [(float(x),) for x in vals], "amount double")
    rows = {r["digit"]: r for r in benford(df, "amount").collect()}
    from collections import Counter
    digs = Counter(int(str(f"{x:.10f}").lstrip("0.").lstrip("0")[0])
                   for x in vals if x > 0)
    n = sum(digs.values())
    n_total = sum(digs.values())
    for d in range(1, 10):
        if d in rows:
            r = rows[d]
            assert r["n"] == digs.get(d, 0)
            assert r["expected"] == pytest.approx(
                np.log10(1 + 1 / d), abs=1e-5)
            assert r["observed"] == pytest.approx(
                digs[d] / n_total, abs=1e-5)
        else:
            assert digs.get(d, 0) == 0


@pytest.mark.parametrize("seed", [61, 241])
def test_pettitt_matches_direct_u_statistic(spark, seed):
    import datetime as dt
    from satellitetools_spark.operators.temporal import pettitt
    rng = np.random.RandomState(seed)
    v = np.concatenate([rng.randint(0, 5, 12),
                        rng.randint(4, 9, 13)]).astype(float)
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1) + dt.timedelta(days=i),
          float(v[i])) for i in range(len(v))],
        "user_id int, ts timestamp, value double")
    r = pettitt(df).collect()[0]
    n = len(v)
    # U_t = sum_{i<=t} sum_{j>t} sign(v_j - v_i); K = max |U_t|
    best_k, best_t = -1, None
    for t in range(n - 1):
        u = sum(np.sign(v[j] - v[i])
                for i in range(t + 1) for j in range(t + 1, n))
        if abs(u) > best_k:
            best_k, best_t = int(abs(u)), t
    p = 2.0 * np.exp(-6.0 * best_k ** 2 / (n ** 3 + n ** 2))
    assert r["n_obs"] == n
    assert r["k_stat"] == best_k
    assert r["p_value"] == pytest.approx(float(min(1.0, p)), abs=1e-4)


@pytest.mark.parametrize("seed", [62, 251])
def test_idw_grid_matches_direct_weighting(spark, seed):
    from satellitetools_spark.operators.spatial import idw_grid
    rng = np.random.RandomState(seed)
    sts = [(i, float(rng.randint(0, 50) * 10),
            float(rng.randint(0, 50) * 10),
            float(rng.randint(10, 90))) for i in range(12)]
    pts = [(f"p{j}", float(rng.randint(0, 50) * 10 + 5),
            float(rng.randint(0, 50) * 10 + 5)) for j in range(8)]
    st = spark.createDataFrame(
        sts, "station_id int, sx double, sy double, v double")
    pt = spark.createDataFrame(pts, "doc_id string, x double, y double")
    radius = 300.0
    got = {r["doc_id"]: r for r in
           idw_grid(pt, st, radius=radius).collect()}
    for pid, x, y in pts:
        nb = [(sv, np.hypot(x - sx, y - sy))
              for _i, sx, sy, sv in sts
              if (x - sx) ** 2 + (y - sy) ** 2 <= radius ** 2]
        if not nb:
            assert pid not in got or got[pid]["idw"] is None
            continue
        w = [1.0 / d ** 2 for _v, d in nb]
        want = sum(wi * v for (v, _d), wi in zip(nb, w)) / sum(w)
        r = got[pid]
        assert r["n_stations"] == len(nb)
        assert r["idw"] == pytest.approx(float(want), abs=1e-4)


@pytest.mark.parametrize("seed", [63, 257])
def test_interarrival_matches_direct_gap_moments(spark, seed):
    import datetime as dt
    from satellitetools_spark.operators.temporal import \
        interarrival_stats
    rng = np.random.RandomState(seed)
    gaps = rng.randint(60, 7200, 25)
    ts = np.cumsum(np.concatenate([[0], gaps]))
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=int(t)),
          "e") for t in ts],
        "user_id int, ts timestamp, event_type string")
    r = interarrival_stats(df).collect()[0]
    g = gaps.astype(float)
    mean, std = g.mean(), g.std(ddof=0)   # population moments
    assert r["n_gaps"] == len(g)
    assert r["mean_gap_s"] == pytest.approx(float(mean), abs=1e-3)
    assert r["std_gap_s"] == pytest.approx(float(std), abs=1e-3)
    assert r["cv"] == pytest.approx(float(std / mean), abs=1e-5)
    assert r["burstiness"] == pytest.approx(
        float((std - mean) / (std + mean)), abs=1e-5)


@pytest.mark.parametrize("seed", [64, 263])
def test_markov_entropy_matches_direct_transition_entropy(spark, seed):
    import datetime as dt
    from collections import Counter
    from satellitetools_spark.operators.temporal import markov_entropy
    rng = np.random.RandomState(seed)
    types = ["view", "click", "purchase"]
    rows = []
    seqs = {}
    for u in range(6):
        seq = [types[i] for i in rng.randint(0, 3, 20)]
        seqs[u] = seq
        rows += [(u, dt.datetime(2024, 1, 1)
                  + dt.timedelta(hours=i), s)
                 for i, s in enumerate(seq)]
    df = spark.createDataFrame(rows,
                               "user_id int, ts timestamp, event_type string")
    got = {r["from_type"]: r for r in markov_entropy(df).collect()}
    trans = Counter()
    for seq in seqs.values():
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    out_tot = Counter()
    for (a, _b), c in trans.items():
        out_tot[a] += c
    grand = sum(out_tot.values())
    for a in types:
        probs = [trans[(a, b)] / out_tot[a] for b in types
                 if trans[(a, b)] > 0]
        h = -sum(p * np.log(p) for p in probs)
        r = got[a]
        assert r["n_out"] == out_tot[a]
        assert r["weight"] == pytest.approx(out_tot[a] / grand,
                                            abs=1e-5)
        assert r["entropy"] == pytest.approx(float(h), abs=1e-5)


@pytest.mark.parametrize("seed", [65, 269])
def test_lexical_diversity_matches_direct_counts(spark, seed):
    import re
    from collections import Counter
    from satellitetools_spark.operators.text import lexical_diversity
    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(15)]
    rows = [(d, " ".join(rng.choice(vocab,
                                    size=rng.randint(4, 30))))
            for d in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in lexical_diversity(docs).collect()}
    for d, t in rows:
        toks = re.findall(r"[a-z0-9]+", t.lower())
        c = Counter(toks)
        r = got[d]
        assert r["n_tokens"] == len(toks)
        assert r["n_types"] == len(c)
        assert r["n_hapax"] == sum(1 for v in c.values() if v == 1)
        assert r["ttr"] == pytest.approx(len(c) / len(toks), abs=1e-5)


@pytest.mark.parametrize("seed", [66, 271])
def test_variogram_matches_direct_semivariance(spark, seed):
    from satellitetools_spark.operators.spatial import variogram
    dem, elev = _grid_dem(spark, seed, nx=6, ny=6)
    got = {r["d2"]: r for r in variogram(dem).collect()}
    ny, nx = elev.shape
    acc = {}
    # every unordered pair once, binned by squared grid offset <= 8
    for iy in range(ny):
        for ix in range(nx):
            for jy in range(ny):
                for jx in range(nx):
                    if (jy, jx) <= (iy, ix):
                        continue
                    d2 = (ix - jx) ** 2 + (iy - jy) ** 2
                    if 0 < d2 <= 8:
                        s, n = acc.get(d2, (0.0, 0))
                        acc[d2] = (s + (elev[iy, ix]
                                        - elev[jy, jx]) ** 2, n + 1)
    for d2, (s, n) in acc.items():
        r = got[d2]
        # engine counts ordered pairs (each unordered pair twice);
        # gamma = mean squared diff / 2 is identical either way
        assert r["n_pairs"] in (n, 2 * n)
        assert r["lag"] == pytest.approx(np.sqrt(d2), abs=1e-5)
        assert r["gamma"] == pytest.approx(s / (2.0 * n), abs=1e-4)


@pytest.mark.parametrize("seed", [67, 277])
def test_basket_pairs_matches_direct_lift(spark, seed):
    from collections import Counter
    from satellitetools_spark.operators.segment import basket_pairs
    rng = np.random.RandomState(seed)
    baskets = {}
    rows = []
    for o in range(40):
        items = set(f"it{i}" for i in rng.randint(0, 8,
                                                  rng.randint(2, 6)))
        baskets[o] = items
        rows += [(o, it) for it in items]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey string")
    got = {(r["item_a"], r["item_b"]): r
           for r in basket_pairs(li, min_support=3).collect()}
    n_orders = len(baskets)
    item_n = Counter()
    pair_n = Counter()
    for items in baskets.values():
        for it in items:
            item_n[it] += 1
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                pair_n[(s[i], s[j])] += 1
    want = {k: v for k, v in pair_n.items() if v >= 3}
    assert set(got) == set(want)
    for (a, b), nab in want.items():
        r = got[(a, b)]
        assert r["n_ab"] == nab
        assert r["n_a"] == item_n[a] and r["n_b"] == item_n[b]
        lift = (nab / n_orders) / ((item_n[a] / n_orders)
                                   * (item_n[b] / n_orders))
        assert r["lift"] == pytest.approx(float(lift), abs=1e-4)


@pytest.mark.parametrize("seed", [68, 281])
def test_ripley_k_matches_direct_definition(spark, seed):
    from satellitetools_spark.operators.spatial import ripley_k
    rng = np.random.RandomState(seed)
    xs = rng.uniform(0, 400, 25)
    ys = rng.uniform(0, 400, 25)
    df = spark.createDataFrame(
        [("d", float(x), float(y)) for x, y in zip(xs, ys)],
        "doc_id string, x double, y double")
    r = ripley_k(df).collect()[0]
    n = len(xs)
    # pixel-extent convention: each coordinate span padded by one gsd
    area = ((xs.max() - xs.min() + 20.0)
            * (ys.max() - ys.min() + 20.0))
    assert r["n_points"] == n
    assert r["area"] == pytest.approx(float(area), rel=1e-4)
    for rad in (30.0, 60.0, 90.0):
        pairs = sum(1 for i in range(n) for j in range(i + 1, n)
                    if np.hypot(xs[i] - xs[j], ys[i] - ys[j]) <= rad)
        k = area * 2.0 * pairs / (n * (n - 1))
        key = str(int(rad))
        assert r[f"pairs_{key}"] == pairs
        assert r[f"k_{key}"] == pytest.approx(float(k), rel=1e-4)
        assert r[f"l_{key}"] == pytest.approx(
            float(np.sqrt(k / np.pi)), rel=1e-4)


@pytest.mark.parametrize("seed", [69, 283])
def test_kde_grid_matches_direct_gaussian_sum(spark, seed):
    from satellitetools_spark.operators.spatial import kde_grid
    rng = np.random.RandomState(seed)
    h, cell = 40.0, 160.0
    xs = rng.uniform(0, 600, 30)
    ys = rng.uniform(0, 600, 30)
    df = spark.createDataFrame(
        [("d", float(x), float(y)) for x, y in zip(xs, ys)],
        "doc_id string, x double, y double")
    rows = kde_grid(df, bandwidth=h, cell_m=cell).collect()
    assert rows
    cutoff = 3.0 * h
    n = len(xs)
    for r in rows:
        cx = (r["cx"] + 0.5) * cell
        cy = (r["cy"] + 0.5) * cell
        d = np.hypot(xs - cx, ys - cy)
        m = d <= cutoff
        ks = float(np.exp(-d[m] ** 2 / (2 * h * h)).sum())
        assert r["n_contrib"] == int(m.sum())
        assert r["kernel_sum"] == pytest.approx(ks, abs=1e-4)
        assert r["density"] == pytest.approx(
            round(ks, 6) / (2 * np.pi * h * h * n), rel=1e-4)


@pytest.mark.parametrize("seed", [70, 293])
def test_ccf_matches_direct_lagged_correlation(spark, seed):
    import datetime as dt
    from satellitetools_spark.operators.temporal import ccf
    rng = np.random.RandomState(seed)
    n = 40
    b = np.round(rng.randn(n), 3)
    a = np.round(np.concatenate([[0.0], b[:-1]]) + rng.randn(n) * 0.3,
                 3)  # a follows b by one step
    df = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
          float(a[i]), float(b[i])) for i in range(n)],
        "key string, t timestamp, va double, vb double")
    r = ccf(df, ("key",), max_lag=2).collect()[0]
    am, bm = a.mean(), b.mean()
    den = np.sqrt(((a - am) ** 2).sum() * ((b - bm) ** 2).sum())
    for k in (-2, -1, 0, 1, 2):
        # r_k pairs a_t with b_{t-k}
        if k >= 0:
            num = ((a[k:] - am) * (b[:n - k] - bm)).sum()
        else:
            num = ((a[:n + k] - am) * (b[-k:] - bm)).sum()
        col = f"ccf_{k}" if k >= 0 else f"ccf_m{-k}"
        assert r[col] == pytest.approx(float(num / den), abs=1e-4)
    # the planted lead shows up at k=+1
    assert r["ccf_1"] > 0.5
