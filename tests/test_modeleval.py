"""Model-evaluation / information-theory operators: ROC-AUC,
calibration + Brier decomposition, cumulative gains, MI / Cramér's V /
JSD, Benjamini-Hochberg FDR, deterministic Poisson bootstrap.

Each test checks SEMANTICS against a planted ground truth or an
independent NumPy computation — oracle-twin equality is the gate's job
(scripts/check_correctness.py)."""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from satellitetools_spark.operators import modeleval as ME


def _scored(spark, ys, ss):
    return spark.createDataFrame(
        [(float(y), float(s)) for y, s in zip(ys, ss)],
        "y double, s double")


# ---------------------------------------------------------------- ROC-AUC

def test_roc_auc_perfect_separation(spark):
    df = _scored(spark, [0, 0, 0, 1, 1], [0.1, 0.2, 0.3, 0.8, 0.9])
    out = ME.roc_auc(df, "y", "s").collect()[0]
    assert out["auc"] == 1.0 and out["gini"] == 1.0
    assert out["n0"] == 3 and out["n1"] == 2


def test_roc_auc_matches_numpy_rank_formula(spark):
    rng = np.random.RandomState(7)
    y = (rng.rand(200) < 0.4).astype(int)
    s = np.round(rng.rand(200) * 0.5 + 0.4 * y, 2)  # ties guaranteed
    # independent midrank computation via scipy-free numpy
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(len(s))
    sorted_s = s[order]
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and sorted_s[j] == sorted_s[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # midrank, 1-based
        i = j
    n1, n0 = int(y.sum()), int((1 - y).sum())
    auc = (ranks[y == 1].sum() - n1 * (n1 + 1) / 2.0) / (n0 * n1)
    out = ME.roc_auc(_scored(spark, y, s), "y", "s").collect()[0]
    assert out["auc"] == pytest.approx(auc, abs=1e-6)


def test_roc_auc_ties_give_half_credit(spark):
    # all scores equal -> AUC exactly 0.5 regardless of labels
    df = _scored(spark, [0, 0, 1, 1], [0.5, 0.5, 0.5, 0.5])
    assert ME.roc_auc(df, "y", "s").collect()[0]["auc"] == 0.5


# ------------------------------------------------- calibration + Brier

def test_calibration_bins_planted(spark):
    # bin 0: scores .05/.05 labels 0,1 -> frac_pos .5, avg_score .05
    df = _scored(spark, [0, 1, 1, 1], [0.05, 0.05, 0.95, 0.95])
    rows = {r["bin"]: r for r in
            ME.calibration_bins(df, "y", "s", 0.0).collect()}
    assert rows[0]["n"] == 2 and rows[0]["frac_pos"] == 0.5
    assert rows[0]["gap"] == pytest.approx(0.45)
    assert rows[9]["n"] == 2 and rows[9]["frac_pos"] == 1.0
    assert rows[9]["gap"] == pytest.approx(0.05)


def test_calibration_edge_clamp_and_validation(spark):
    df = _scored(spark, [1, 0], [1.0, -0.2])  # 1.0 and out-of-range
    rows = {r["bin"]: r for r in
            ME.calibration_bins(df, "y", "s", 0.0).collect()}
    assert rows[9]["n"] == 1 and rows[0]["n"] == 1  # clamped to edges
    with pytest.raises(ValueError):
        ME.calibration_bins(df, "y", "s", 1.0)
    with pytest.raises(ValueError):
        ME.brier_decomposition(df, "y", "s", 2.0)


def test_brier_decomposition_identities(spark):
    rng = np.random.RandomState(11)
    s = np.round(rng.rand(500), 3)
    y = (rng.rand(500) < s).astype(float)  # well-calibrated scores
    out = ME.brier_decomposition(_scored(spark, y, s), "y", "s",
                                 0.0).collect()[0]
    brier = float(np.mean((s - y) ** 2))
    assert out["brier"] == pytest.approx(brier, abs=1e-6)
    ybar = float(np.mean(y))
    assert out["uncertainty"] == pytest.approx(ybar * (1 - ybar), abs=1e-6)
    # calibrated scores -> tiny reliability, ECE small
    assert out["reliability"] < 0.01
    assert out["ece"] < 0.1
    # Murphy identity holds up to the within-bin score variance
    assert out["brier"] == pytest.approx(
        out["reliability"] - out["resolution"] + out["uncertainty"],
        abs=0.02)


# ------------------------------------------------------ cumulative gains

def test_cumulative_gains_monotone_and_total(spark):
    rng = np.random.RandomState(3)
    y = (rng.rand(300) < 0.3).astype(int)
    s = np.round(rng.rand(300) + 0.5 * y, 2)
    rows = sorted(ME.cumulative_gains(_scored(spark, y, s), "y", "s")
                  .collect(), key=lambda r: r["bucket"])
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains)           # monotone nondecreasing
    assert gains[-1] == 1.0                 # captures everything
    assert rows[-1]["read_frac"] == 1.0
    assert sum(r["n"] for r in rows) == 300
    assert sum(r["n_pos"] for r in rows) == int(y.sum())
    # informative score -> first decile beats random
    assert rows[0]["lift"] > 1.5


def test_cumulative_gains_tie_group_stays_together(spark):
    # 10 rows all same score -> single bucket 10, not ten slices
    df = _scored(spark, [1, 0] * 5, [0.5] * 10)
    rows = ME.cumulative_gains(df, "y", "s").collect()
    assert len(rows) == 1 and rows[0]["bucket"] == 10
    assert rows[0]["n"] == 10


# ----------------------------------------------------- MI / V / JSD

def _pairs(spark, rows):
    return spark.createDataFrame(rows, "a string, b string")


def test_mutual_information_independent_and_identical(spark):
    # independent uniform 2x2 -> MI = 0
    ind = _pairs(spark, [("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")])
    out = ME.mutual_information(ind, "a", "b").collect()[0]
    assert out["mi"] == 0.0
    # b == a -> MI = H(A) = ln 2, NMI = 1
    same = _pairs(spark, [("x", "x"), ("y", "y")] * 3)
    out = ME.mutual_information(same, "a", "b").collect()[0]
    assert out["mi"] == pytest.approx(math.log(2), abs=1e-6)
    assert out["nmi"] == pytest.approx(1.0, abs=1e-6)
    assert out["h_ab"] == pytest.approx(math.log(2), abs=1e-6)


def test_cramers_v_extremes(spark):
    ind = _pairs(spark, [("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")])
    assert ME.cramers_v(ind, "a", "b").collect()[0]["v"] == 0.0
    same = _pairs(spark, [("x", "x"), ("y", "y")] * 5)
    out = ME.cramers_v(same, "a", "b").collect()[0]
    assert out["v"] == pytest.approx(1.0, abs=1e-6)
    assert out["chi2"] == pytest.approx(out["n"], abs=1e-6)  # phi=1


def test_js_divergence_bounds(spark):
    df = spark.createDataFrame(
        [(0, "a"), (0, "a"), (1, "b"), (1, "b")], "g int, k string")
    out = ME.js_divergence(df, "g", "k").collect()[0]
    # disjoint supports -> maximal JSD = ln 2 nats = 1 bit
    assert out["jsd_nats"] == pytest.approx(math.log(2), abs=1e-6)
    assert out["jsd_bits"] == pytest.approx(1.0, abs=1e-6)
    ident = spark.createDataFrame(
        [(0, "a"), (1, "a"), (0, "b"), (1, "b")], "g int, k string")
    assert ME.js_divergence(ident, "g", "k").collect()[0]["jsd_nats"] == 0.0


# ----------------------------------------------------------- FDR (BH)

def test_bh_adjust_matches_manual_stepup(spark):
    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205,
          0.212, 0.216]  # Benjamini-Hochberg 1995 worked example shape
    df = spark.createDataFrame(
        [(f"t{i}", p) for i, p in enumerate(ps)], "key string, p double")
    out = {r["key"]: r for r in
           ME.bh_adjust(df, "key", "p").collect()}
    m = len(ps)
    raw = [p * m / (i + 1) for i, p in enumerate(ps)]
    adj = raw[:]
    for i in range(m - 2, -1, -1):
        adj[i] = min(adj[i], adj[i + 1])
    for i, p in enumerate(ps):
        assert out[f"t{i}"]["p_adj"] == pytest.approx(
            min(adj[i], 1.0), abs=1e-6)
    # step-up: largest k with p_(k) <= k·alpha/m is k=2 (0.008 <= 0.01);
    # 0.039 > 0.015 and every later ratio fails, so exactly t0, t1 reject
    rejected = [k for k, r in out.items() if r["rejected"] == 1]
    assert set(rejected) == {"t0", "t1"}


def test_group_vs_rest_ttest_symmetry_two_groups(spark):
    # with exactly two groups, each group's "rest" is the other group:
    # t statistics must be equal and opposite, p identical
    rows = [("a", float(v)) for v in [1, 2, 3, 4, 5]] + \
           [("b", float(v)) for v in [6, 7, 8, 9, 10, 11]]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in
           ME.group_vs_rest_ttest(df, "g", "v").collect()}
    assert out["a"]["t"] == pytest.approx(-out["b"]["t"], abs=1e-6)
    assert out["a"]["p_approx"] == pytest.approx(
        out["b"]["p_approx"], abs=1e-6)
    assert out["a"]["mean"] == 3.0 and out["a"]["mean_rest"] == 8.5


def test_normal_p_approximation_accuracy():
    # the shared A&S erf polynomial vs math.erf, across the usual range
    for t in (0.0, 0.5, 1.0, 1.96, 2.58, 4.0):
        exact = 1.0 - math.erf(t / math.sqrt(2.0))
        approx = eval(
            ME._two_sided_p_fmt(repr(t))
            .replace("ABS", "abs").replace("EXP", "math.exp"),
            {"math": math, "abs": abs})
        assert approx == pytest.approx(exact, abs=3e-7)


# ------------------------------------------------------------ bootstrap

def test_poisson_bootstrap_deterministic_and_sane(spark):
    rows = [(i, float(np.random.RandomState(i).rand()))
            for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v double")
    a = ME.poisson_bootstrap_mean(df, "v", "id", n_boot=32).collect()[0]
    b = ME.poisson_bootstrap_mean(
        df.repartition(7), "v", "id", n_boot=32).collect()[0]
    assert a == b  # bit-stable under repartitioning
    mean = sum(v for _, v in rows) / len(rows)
    assert a["point_mean"] == pytest.approx(mean, abs=1e-6)
    assert a["ci_lo"] < mean < a["ci_hi"]
    # CI width ~ 2*1.96*sigma/sqrt(n); sanity band, not exactness
    sigma = float(np.std([v for _, v in rows]))
    half = 1.96 * sigma / math.sqrt(len(rows))
    assert (a["ci_hi"] - a["ci_lo"]) == pytest.approx(2 * half, rel=0.6)
    assert a["n"] == 400 and a["n_boot"] == 32


def test_poisson_weights_mean_one(spark):
    # the planted Poisson(1) inverse: empirical mean weight ~ 1
    df = spark.range(2000).select(F.col("id"), F.lit(1.0).alias("v"))
    w = ME._pois_fmt(ME._boot_u_fmt("id", "0", 99))
    avg = df.select(F.avg(F.expr(w).cast("double"))
                    .alias("m")).collect()[0]["m"]
    assert avg == pytest.approx(1.0, abs=0.08)


# ----------------------------------------------------- batch 2: AP etc.

def test_average_precision_extremes(spark):
    perfect = _scored(spark, [0, 0, 1, 1], [0.1, 0.2, 0.8, 0.9])
    out = ME.average_precision(perfect, "y", "s").collect()[0]
    assert out["ap"] == 1.0
    # all scores tied -> single PR point at (R=1, P=prevalence)
    tied = _scored(spark, [0, 1, 0, 1], [0.5] * 4)
    out = ME.average_precision(tied, "y", "s").collect()[0]
    assert out["ap"] == out["prevalence"] == 0.5


def test_average_precision_matches_sklearn_formula(spark):
    rng = np.random.RandomState(5)
    y = (rng.rand(150) < 0.35).astype(int)
    s = np.round(rng.rand(150) + 0.6 * y, 2)
    # step-interpolated AP over distinct thresholds, numpy reference
    order = np.argsort(-s, kind="mergesort")
    ys, ss = y[order], s[order]
    ap, tp, seen = 0.0, 0, 0
    i = 0
    while i < len(ys):
        j = i
        while j < len(ys) and ss[j] == ss[i]:
            j += 1
        dtp = int(ys[i:j].sum())
        tp += dtp
        seen = j
        if dtp:
            ap += (dtp / y.sum()) * (tp / seen)
        i = j
    out = ME.average_precision(_scored(spark, y, s), "y", "s").collect()[0]
    assert out["ap"] == pytest.approx(ap, abs=1e-6)


def test_confusion_and_mcc(spark):
    # planted: tp=2 fp=1 fn=1 tn=2 at thr .5
    df = _scored(spark, [1, 1, 1, 0, 0, 0],
                 [0.9, 0.8, 0.1, 0.7, 0.2, 0.3])
    out = ME.confusion_at_threshold(df, "y", "s").collect()[0]
    assert (out["tp"], out["fp"], out["fn"], out["tn"]) == (2, 1, 1, 2)
    assert out["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert out["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert out["f1"] == pytest.approx(2 / 3, abs=1e-6)
    mcc = (2 * 2 - 1 * 1) / math.sqrt(3 * 3 * 3 * 3)
    assert out["mcc"] == pytest.approx(mcc, abs=1e-6)


def test_cohens_kappa_extremes(spark):
    same = _pairs(spark, [("x", "x"), ("y", "y")] * 4)
    out = ME.cohens_kappa(same, "a", "b").collect()[0]
    assert out["kappa"] == 1.0 and out["p_observed"] == 1.0
    # independence at 50/50 marginals -> p_o == p_e == .5 -> kappa 0
    ind = _pairs(spark, [("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")])
    assert ME.cohens_kappa(ind, "a", "b").collect()[0]["kappa"] == 0.0


def test_kendall_tau_b_known_values(spark):
    # perfectly monotone -> tau_b = 1; reversed -> -1
    up = spark.createDataFrame([(i, i) for i in range(6)], "x int, y int")
    assert ME.kendall_tau_b(up, "x", "y").collect()[0]["tau_b"] == 1.0
    dn = spark.createDataFrame([(i, -i) for i in range(6)],
                               "x int, y int")
    assert ME.kendall_tau_b(dn, "x", "y").collect()[0]["tau_b"] == -1.0
    # tie-corrected case, scipy.stats.kendalltau reference value:
    # x=[1,1,2,2,3], y=[1,2,1,2,3]: C=5 D=1 n1=2 n2=2 n0=10
    # tau_b = 4/sqrt(64) = 0.5
    t = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2), (3, 3)], "x int, y int")
    out = ME.kendall_tau_b(t, "x", "y").collect()[0]
    assert out["concordant"] == 5 and out["discordant"] == 1
    assert out["tau_b"] == pytest.approx(0.5, abs=1e-6)


def test_woe_iv_signs_and_smoothing(spark):
    # category 'a' is pure positive, 'b' pure negative: WoE(a) > 0 >
    # WoE(b), both finite thanks to smoothing; iv contributions positive
    rows = [("a", 1)] * 8 + [("b", 0)] * 8
    df = spark.createDataFrame(rows, "k string, y int")
    out = {r["category"]: r for r in
           ME.woe_iv(df, "y", "k").collect()}
    assert out["a"]["woe"] > 0 > out["b"]["woe"]
    assert math.isfinite(out["a"]["woe"])
    assert out["a"]["iv"] > 0 and out["b"]["iv"] > 0


def test_fairness_report_planted_gap(spark):
    # group g1 selected at 100%, g2 at 0% -> parity gaps +/-0.5
    rows = [("g1", 1, 1), ("g1", 0, 1), ("g2", 1, 0), ("g2", 0, 0)]
    df = spark.createDataFrame(rows, "g string, y int, p int")
    out = {r["grp"]: r for r in
           ME.fairness_report(df, "y", "p", "g").collect()}
    assert out["g1"]["selection_rate"] == 1.0
    assert out["g2"]["selection_rate"] == 0.0
    assert out["g1"]["parity_gap"] == pytest.approx(0.5)
    assert out["g2"]["parity_gap"] == pytest.approx(-0.5)
    assert out["g1"]["tpr"] == 1.0 and out["g2"]["tpr"] == 0.0


def test_conformal_interval_guarantee(spark):
    # residuals are |N(0,1)|-ish via planted values; coverage on the
    # test slice must be >= 1 - alpha - small slack (exchangeable here)
    rng = np.random.RandomState(17)
    rows = [(int(i), float(x), float(x + rng.randn()))
            for i, x in enumerate(rng.rand(1000) * 10)]
    df = spark.createDataFrame(rows, "id long, pred double, act double")
    out = ME.conformal_interval(df, "pred", "act", "id % 5 = 0").collect()[0]
    assert out["n_calib"] == 200 and out["n_test"] == 800
    assert out["test_coverage"] >= 0.85
    # qhat is the exact ceil((n+1)*.9)-th smallest calibration residual
    calib = sorted(abs(a - p) for i, p, a in rows if i % 5 == 0)
    k = math.ceil(201 * 0.9)
    assert out["qhat"] == pytest.approx(calib[k - 1], abs=1e-6)


# ------------------------------------------------------- heavy hitters

def test_heavy_hitters_guarantee_on_skewed_stream(spark):
    from satellitetools_spark.operators import sketch as SK
    # big alphabet (600 rare singleton tokens across docs) + two truly
    # heavy tokens; MG counters k = 2/phi + 1 = 41 << alphabet, so the
    # sketch must actually evict — and still may not drop a heavy token
    rows = []
    for i in range(100):
        rare = " ".join(f"rare{i}_{j}" for j in range(6))
        rows.append((i, f"hot {rare} warm" if i % 2 else f"hot {rare}"))
    df = spark.createDataFrame(rows, "id long, text string").repartition(5)
    out = {r["token"]: r for r in
           SK.heavy_hitters(df, phi=0.05).collect()}
    n_tokens = 100 * 7 + 50  # 6 rare + hot per doc, warm on half
    assert set(out) == {"hot", "warm"}
    assert out["hot"]["cnt"] == 100
    assert out["warm"]["cnt"] == 50
    assert out["hot"]["share"] == pytest.approx(100 / n_tokens, abs=1e-6)


def test_heavy_hitters_empty_below_threshold(spark):
    from satellitetools_spark.operators import sketch as SK
    # uniform alphabet where nothing reaches phi
    rows = [(i, " ".join(f"w{j}" for j in range(50))) for i in range(4)]
    df = spark.createDataFrame(rows, "id long, text string")
    assert SK.heavy_hitters(df, phi=0.05).count() == 0
    with pytest.raises(ValueError):
        SK.heavy_hitters(df, phi=0.0)


# --------------------------------------------------- retrieval metrics

def _emb_clusters(spark):
    # two tight clusters in 4-d: label 0 near e1, label 1 near e2;
    # within-cluster vectors are closer to each other than cross-cluster
    rows = []
    for i in range(8):
        eps = 0.01 * i
        rows.append((i, [1.0, eps, 0.0, 0.0], 0))
        rows.append((100 + i, [0.0, 0.0, 1.0, eps], 1))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_retrieval_metrics_perfect_cluster_retrieval(spark):
    from satellitetools_spark.operators import similarity as SIM
    emb = _emb_clusters(spark)
    out = {r["query_id"]: r for r in
           SIM.retrieval_metrics(emb, [0, 100], k=7).collect()}
    # 7 own-cluster neighbors exist (8 per cluster minus self): all hits
    for q in (0, 100):
        assert out[q]["n_rel"] == 7
        assert out[q]["hits"] == 7
        assert out[q]["precision_k"] == 1.0
        assert out[q]["rr"] == 1.0
        assert out[q]["ndcg"] == 1.0


def test_retrieval_metrics_ndcg_penalizes_late_hits(spark):
    from satellitetools_spark.operators import similarity as SIM
    # query 0's cluster has only 2 relevant; k=5 pulls 3 cross-cluster
    rows = [(0, [1.0, 0.0], 0), (1, [0.99, 0.01], 0),
            (2, [0.98, 0.02], 0)]
    rows += [(10 + i, [0.5, 0.5 + 0.01 * i], 1) for i in range(5)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r["query_id"]: r for r in
           SIM.retrieval_metrics(emb, [0], k=5).collect()}
    r = out[0]
    assert r["n_rel"] == 2 and r["hits"] == 2
    assert r["precision_k"] == pytest.approx(0.4)
    assert r["rr"] == 1.0                       # best hit ranks first
    assert r["ndcg"] == 1.0                     # both rels rank 1-2
    # idcg over min(k, R)=2 positions
    assert r["idcg"] == pytest.approx(1.0 + 1.0 / math.log2(3), abs=1e-6)


def test_ann_recall_overlap_and_missing_query(spark):
    from satellitetools_spark.operators import similarity as SIM
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, neighbor_id long")
    approx = spark.createDataFrame(
        [(1, 10), (1, 99)], "query_id long, neighbor_id long")
    out = {r["query_id"]: r for r in
           SIM.ann_recall(approx, exact, k=2).collect()}
    assert out[1]["recall"] == 0.5
    assert out[2]["recall"] == 0.0 and out[2]["n_overlap"] == 0


# ------------------------------------------- McNemar / Bland-Altman / RBO

def test_mcnemar_discordant_only(spark):
    # a: 1 on rows 0-5; b: 1 on rows 4-7 -> b10 = #(a=1,b=0) = 4 (rows
    # 0-3), c01 = #(a=0,b=1) = 2 (rows 6-7); concordant rows ignored
    rows = [(i, int(i < 6), int(4 <= i < 8)) for i in range(12)]
    df = spark.createDataFrame(rows, "id int, a int, b int")
    out = ME.mcnemar(df, "a", "b").collect()[0]
    assert (out["b10"], out["c01"]) == (4, 2)
    assert out["chi2"] == pytest.approx((4 - 2) ** 2 / 6, abs=1e-6)
    # equal discordance -> chi2 0, p 1
    eq = spark.createDataFrame(
        [(1, 0), (0, 1)], "a int, b int")
    out2 = ME.mcnemar(eq, "a", "b").collect()[0]
    assert out2["chi2"] == 0.0 and out2["p_approx"] == 1.0


def test_bland_altman_constant_offset(spark):
    # b = a - 3 exactly: bias 3, sd 0 -> degenerate limits equal bias
    rows = [(float(i), float(i) - 3.0) for i in range(10)]
    df = spark.createDataFrame(rows, "a double, b double")
    out = ME.bland_altman(df, "a", "b").collect()[0]
    assert out["bias"] == 3.0 and out["sd"] == 0.0
    assert out["loa_lo"] == out["loa_hi"] == 3.0
    assert out["within_frac"] == 1.0


def test_bland_altman_within_fraction(spark):
    import numpy as np
    rng = np.random.RandomState(2)
    d = rng.normal(1.0, 2.0, 500)
    rows = [(float(x + dd), float(x))
            for x, dd in zip(rng.rand(500) * 50, d)]
    df = spark.createDataFrame(rows, "a double, b double")
    out = ME.bland_altman(df, "a", "b").collect()[0]
    assert out["bias"] == pytest.approx(float(d.mean()), abs=1e-5)
    assert 0.92 <= out["within_frac"] <= 0.98  # ~95% inside 1.96 sd


def test_rank_biased_overlap_extremes(spark):
    from satellitetools_spark.operators import similarity as SIM
    ident = spark.createDataFrame(
        [(1, n, r) for r, n in enumerate([10, 11, 12], 1)],
        "query_id long, neighbor_id long, rank int")
    out = SIM.rank_biased_overlap(ident, ident, k=3, p=0.9).collect()
    # identical rankings -> A_d = 1 for all d -> RBO = (1-p)·Σ p^{d-1}
    want = 0.1 * (1 + 0.9 + 0.81)
    assert out[0]["rbo"] == pytest.approx(want, abs=1e-6)
    disjoint = spark.createDataFrame(
        [(1, n, r) for r, n in enumerate([20, 21, 22], 1)],
        "query_id long, neighbor_id long, rank int")
    out2 = SIM.rank_biased_overlap(disjoint, ident, k=3, p=0.9).collect()
    assert out2[0]["rbo"] == 0.0
    with pytest.raises(ValueError):
        SIM.rank_biased_overlap(ident, ident, k=3, p=1.0)


def test_rank_biased_overlap_rewards_early_agreement(spark):
    from satellitetools_spark.operators import similarity as SIM
    exact = spark.createDataFrame(
        [(1, n, r) for r, n in enumerate([10, 11, 12, 13], 1)],
        "query_id long, neighbor_id long, rank int")
    # same SET, top-2 swapped with bottom-2 -> recall@4 identical but
    # RBO must drop vs the identical ranking
    swapped = spark.createDataFrame(
        [(1, n, r) for r, n in enumerate([12, 13, 10, 11], 1)],
        "query_id long, neighbor_id long, rank int")
    same = SIM.rank_biased_overlap(exact, exact, k=4).collect()[0]["rbo"]
    swap = SIM.rank_biased_overlap(swapped, exact, k=4).collect()[0]["rbo"]
    assert swap < same


def test_hosmer_lemeshow_calibrated_vs_shifted(spark):
    rng = np.random.RandomState(19)
    s = np.round(rng.rand(2000), 3)
    y_cal = (rng.rand(2000) < s).astype(float)      # calibrated
    y_bad = (rng.rand(2000) < np.clip(s + 0.25, 0, 1)).astype(float)
    cal = ME.hosmer_lemeshow(_scored(spark, y_cal, s), "y", "s",
                             0.0, 1.0).collect()[0]
    bad = ME.hosmer_lemeshow(_scored(spark, y_bad, s), "y", "s",
                             0.0, 1.0).collect()[0]
    assert cal["g"] == 10 and cal["dof"] == 8
    # calibrated scores: H near its dof; shifted: H explodes
    assert cal["h"] < 30
    assert bad["h"] > 100
    assert bad["h"] > 5 * cal["h"]


def test_hosmer_lemeshow_numpy_parity_and_guard(spark):
    rng = np.random.RandomState(23)
    s = np.round(rng.rand(300) * 0.8 + 0.1, 2)
    y = (rng.rand(300) < 0.5).astype(float)
    out = ME.hosmer_lemeshow(_scored(spark, y, s), "y", "s",
                             0.0, 1.0).collect()[0]
    # floor of the quotient, matching the engine's floor((s-lo)/width) —
    # NOT s // 0.1, whose divmod semantics differ at representation
    # boundaries (0.5 // 0.1 == 4.0 while floor(0.5/0.1) == 5)
    bins = np.clip(np.floor(s / 0.1).astype(int), 0, 9)
    h = 0.0
    for k in np.unique(bins):
        m = bins == k
        nk, ok, ek = m.sum(), y[m].sum(), s[m].sum()
        if 0 < ek < nk:
            h += (ok - ek) ** 2 / (ek * (1 - ek / nk))
    assert out["h"] == pytest.approx(h, abs=1e-4)
    with pytest.raises(ValueError):
        ME.hosmer_lemeshow(_scored(spark, y, s), "y", "s", 1.0, 0.0)


def test_ols_fit_exact_line_and_noisy_numpy_parity(spark):
    # Exact line y = 2x + 1: slope/intercept/R2 exact, zero residual
    # variance so t/p are NULL (guarded, not inf)
    df = spark.createDataFrame(
        [(float(x), float(2.0 * x + 1.0)) for x in range(10)], ["x", "y"])
    r = ME.ols_fit(df, "y", "x").collect()[0]
    assert (r["slope"], r["intercept"], r["r2"]) == (2.0, 1.0, 1.0)
    assert r["t_stat"] is None and r["p_approx"] is None

    # Noisy case: parity with numpy lstsq + the closed-form SEs
    rng = np.random.RandomState(7)
    x = rng.rand(200) * 10
    y = 3.5 * x - 2.0 + rng.randn(200)
    df2 = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], ["x", "y"])
    r2 = ME.ols_fit(df2, "y", "x").collect()[0]
    n = len(x)
    sxx_c = ((x - x.mean()) ** 2).sum()
    slope = ((x - x.mean()) * (y - y.mean())).sum() / sxx_c
    icept = y.mean() - slope * x.mean()
    resid = y - slope * x - icept
    s2 = (resid ** 2).sum() / (n - 2)
    assert r2["slope"] == pytest.approx(slope, abs=1e-5)
    assert r2["intercept"] == pytest.approx(icept, abs=1e-5)
    assert r2["se_slope"] == pytest.approx(math.sqrt(s2 / sxx_c), abs=1e-5)
    assert r2["t_stat"] == pytest.approx(slope / math.sqrt(s2 / sxx_c),
                                         rel=1e-4)


def test_ols_fit_degenerate_groups_guarded(spark):
    # constant x (zero variance) and n < 3 both yield NULL statistics
    df = spark.createDataFrame(
        [("cx", 1.0, 5.0), ("cx", 1.0, 6.0), ("cx", 1.0, 7.0),
         ("small", 1.0, 2.0), ("small", 2.0, 4.0)],
        ["g", "x", "y"])
    rows = {r["grp"]: r for r in ME.ols_fit(df, "y", "x", "g").collect()}
    assert rows["cx"]["slope"] is None
    assert rows["small"]["slope"] is None


def test_isotonic_calibration_numpy_pav_parity(spark):
    # Independent O(n^2) PAV reference: pool ANY adjacent violator
    # until monotone (order of pooling does not matter for PAV)
    rng = np.random.RandomState(11)
    scores = np.round(rng.rand(400), 1)  # 11-value alphabet
    y = (rng.rand(400) < scores * 0.8 + rng.rand(400) * 0.2).astype(int)
    df = _scored(spark, y.tolist(), scores.tolist())
    got = {r["score"]: r for r in
           ME.isotonic_calibration(df, "y", "s").collect()}

    import collections
    agg = collections.OrderedDict()
    for s in sorted(set(scores)):
        m = scores == s
        agg[s] = [float(m.sum()), float(y[m].sum())]
    w = [v[0] for v in agg.values()]
    m = [v[1] / v[0] for v in agg.values()]
    changed = True
    while changed:
        changed = False
        for i in range(len(m) - 1):
            if m[i] > m[i + 1]:
                tot = w[i] + w[i + 1]
                mm = (w[i] * m[i] + w[i + 1] * m[i + 1]) / tot
                # pool: represent both slots with the pooled mean
                # (weights merge; keep slot granularity for readback)
                m[i] = m[i + 1] = mm
                w[i] = w[i + 1] = tot / 2  # equal split keeps means
                changed = True
    cal = dict(zip(agg.keys(), m))
    for s, r in got.items():
        assert r["calibrated"] == pytest.approx(cal[s], abs=2e-6), s
    # monotone non-decreasing in score
    ordered = [got[s]["calibrated"] for s in sorted(got)]
    assert all(a <= b + 1e-9 for a, b in zip(ordered, ordered[1:]))


def test_logistic_fit_numpy_irls_parity(spark):
    rng = np.random.RandomState(19)
    x1 = rng.randn(400)
    x2 = rng.randn(400)
    logit = 0.8 * x1 - 1.2 * x2 + 0.3
    y = (rng.rand(400) < 1 / (1 + np.exp(-logit))).astype(float)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(y, x1, x2)],
        "y double, a double, b double")
    got = {r["feature"]: r for r in
           ME.logistic_fit(df, "y", ["a", "b"]).collect()}

    # independent pure-NumPy IRLS
    X = np.column_stack([np.ones(400), x1, x2])
    beta = np.zeros(3)
    for _ in range(8):
        p = 1 / (1 + np.exp(-X @ beta))
        W = p * (1 - p)
        H = X.T @ (X * W[:, None]) + np.eye(3) * 1e-8
        beta = beta + np.linalg.solve(H, X.T @ (y - p))
    se = np.sqrt(np.diag(np.linalg.inv(H)))
    for i, name in enumerate(["intercept", "x1", "x2"]):
        assert got[name]["coef"] == pytest.approx(beta[i], abs=2e-6)
        assert got[name]["se"] == pytest.approx(se[i], abs=2e-6)
    # recovered effects carry the right signs and magnitudes
    assert 0.4 < got["x1"]["coef"] < 1.4
    assert -1.8 < got["x2"]["coef"] < -0.7


def test_qini_curve_planted_uplift(spark):
    import numpy as np
    rng = np.random.RandomState(21)
    rows = []
    for i in range(4000):
        t = i % 2
        s = rng.rand()
        base = 0.2
        lift = 0.4 * s if t else 0.0      # uplift grows with score
        y = int(rng.rand() < base + lift)
        rows.append((t, int(y), float(s)))
    df = spark.createDataFrame(rows, "t int, y int, s double")
    out = sorted(ME.qini_curve(df, "t = 1", "y = 1", "s").collect(),
                 key=lambda r: -r["bin"])
    # top-score bin shows strong positive uplift, bottom ~0
    assert out[0]["uplift"] > 0.2
    assert abs(out[-1]["uplift"]) < 0.15
    # final qini ~ total incremental responders; positive and sane
    assert out[-1]["qini"] > 100
    # prefix counts are cumulative and end at the arm totals
    assert out[-1]["n_t"] + sum(r["n_t"] for r in out[:-1]) == 2000


def test_ipw_effect_recovers_null_under_confounding(spark):
    import numpy as np
    rng = np.random.RandomState(5)
    rows = []
    # outcome depends on x only; treatment assignment depends on x
    # (confounded) -> naive diff biased, IPW with the TRUE propensity
    # recovers ~0
    for i in range(6000):
        x = rng.rand()
        e = 0.2 + 0.6 * x
        t = int(rng.rand() < e)
        y = 10.0 * x + rng.randn()
        rows.append((t, float(y), float(e)))
    df = spark.createDataFrame(rows, "t int, y double, e double")
    r = INF_ipw(df)
    naive = (np.mean([y for t, y, e in rows if t == 1])
             - np.mean([y for t, y, e in rows if t == 0]))
    assert naive > 0.5                      # confounding bias visible
    assert abs(r["ate_ipw"]) < 0.25         # IPW kills it
    assert r["ess_t"] < r["n_t"]            # weights cost ESS


def INF_ipw(df):
    from satellitetools_spark.operators import inference as INF
    return INF.ipw_effect(df, "t = 1", "y", "e").collect()[0]
