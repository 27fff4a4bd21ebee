"""Definition-level cross-checks, batch 4 of the round-6 driver-window
families: the always-valid mSPRT monitor, Hyndman seasonality/trend
strength over the classical decomposition, RAKE corpus keywords,
Calinski–Harabasz validity, per-label distance outliers, and
synchronous label propagation — plain-Python/NumPy mirrors over the
real sf0.001 tables."""

import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _r(x, nd=6):
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def test_msprt_matches_direct_mixture_lr(spark):
    from satellitetools_spark.operators import inference as INF
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    tau = 1.0
    got = {str(r["day"])[:10]: r for r in INF.msprt_monitor(
        ev, "user_id % 2 = 1", "value", tau=tau).collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT CAST(date_trunc('day', ts) AS DATE), user_id % 2 = 1,"
        f" value FROM '{os.path.join(SF, 'events.parquet')}'"
    ).fetchall()
    daily = {}
    qq_tot = ss_tot = nn_tot = 0.0
    for day, t, v in rows:
        d = daily.setdefault(str(day), [0, 0, 0.0, 0.0])
        a = int(t)
        d[a] += 1
        d[2 + a] += float(v)
        qq_tot += float(v) * float(v)
        ss_tot += float(v)
        nn_tot += 1
    var_hat = (qq_tot - ss_tot * ss_tot / nn_tot) / (nn_tot - 1)
    t2 = tau * tau
    cn0 = cn1 = 0
    cs0 = cs1 = 0.0
    lmax = None
    for day in sorted(daily):
        n0, n1, s0, s1 = daily[day]
        cn0 += n0
        cn1 += n1
        cs0 += s0
        cs1 += s1
        v2 = 2.0 * var_hat * (1.0 / cn0 + 1.0 / cn1)
        diff = cs1 / cn1 - cs0 / cn0
        lam = math.sqrt(v2 / (v2 + 2.0 * t2)) * math.exp(
            diff * diff * t2 / (v2 * (v2 + 2.0 * t2)))
        lmax = lam if lmax is None else max(lmax, lam)
        p = min(1.0, 1.0 / lmax)
        g = got[day]
        assert (g["n0"], g["n1"]) == (cn0, cn1)
        assert abs(g["diff"] - diff) <= 1e-6
        assert np.isclose(g["lam"], lam, rtol=1e-6, atol=1e-6)
        assert np.isclose(g["p_always_valid"], p, rtol=1e-6,
                          atol=1e-6)
    assert len(got) == len(daily)


def test_seasonality_strength_matches_direct_decomposition(spark):
    from satellitetools_spark.operators.temporal import \
        seasonality_strength
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").cast("double").alias("v")))
    period = 7
    got = {r["event_type"]: r for r in seasonality_strength(
        daily, period=period).collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) FROM "
        f"'{os.path.join(SF, 'events.parquet')}' GROUP BY 1, 2"
    ).fetchall()
    import datetime as dt
    per = {}
    for g, day, n in rows:
        per.setdefault(g, []).append((day, float(n)))
    h = (period - 1) // 2
    for g, pts in per.items():
        pts.sort()
        days = [p[0] for p in pts]
        v = [p[1] for p in pts]
        n = len(v)
        trend = [None] * n
        for i in range(h, n - h):
            trend[i] = sum(v[i - h:i + h + 1]) / period
        phase = [(d - dt.date(1970, 1, 1)).days % period for d in days]
        ph_sum = {}
        for i in range(n):
            if trend[i] is not None:
                s, c = ph_sum.get(phase[i], (0.0, 0))
                ph_sum[phase[i]] = (s + v[i] - trend[i], c + 1)
        sbar = {p: s / c for p, (s, c) in ph_sum.items()}
        mean_sbar = sum(sbar.values()) / len(sbar)
        seasonal = {p: s - mean_sbar for p, s in sbar.items()}
        # the strength readout consumes the decomposition's ROUND-6
        # component columns
        rs, ss_, ts_ = [], [], []
        for i in range(n):
            if trend[i] is None or phase[i] not in seasonal:
                continue
            tr = _r(trend[i])
            se = _r(seasonal[phase[i]])
            re_ = _r(v[i] - tr - se)
            rs.append(re_)
            ss_.append(se + re_)
            ts_.append(tr + re_)
        vr = np.var(rs)
        fs = max(0.0, 1.0 - vr / np.var(ss_))
        ft = max(0.0, 1.0 - vr / np.var(ts_))
        gg = got[g]
        assert gg["n_obs"] == len(rs)
        assert abs(gg["seasonal_strength"] - fs) <= 2e-6
        assert abs(gg["trend_strength"] - ft) <= 2e-6


def test_rake_keywords_match_direct_python_rake(spark):
    from satellitetools_spark.operators.text import (RAKE_STOPWORDS,
                                                     rake_keywords)
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    top_k, min_len = 25, 2
    got = [(r["phrase"], r["n_occurrences"], r["score"])
           for r in rake_keywords(docs, top_k=top_k).collect()]
    stop = set(RAKE_STOPWORDS)
    runs = []  # list of token-lists
    for r in docs.select("text").collect():
        toks = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower())
                if t]
        cur = []
        for t in toks:
            if t in stop:
                if cur:
                    runs.append(cur)
                cur = []
            else:
                cur.append(t)
        if cur:
            runs.append(cur)
    freq, deg = {}, {}
    for run in runs:
        for t in run:
            freq[t] = freq.get(t, 0) + 1
            deg[t] = deg.get(t, 0) + len(run)
    scored = {}
    for run in runs:
        if len(run) < min_len:
            continue
        phrase = " ".join(run)
        s = sum(deg[t] / freq[t] for t in run)
        cnt, _ = scored.get(phrase, (0, 0.0))
        scored[phrase] = (cnt + 1, s)
    want = sorted(((_r(s), p, c) for p, (c, s) in scored.items()),
                  key=lambda x: (-x[0], x[1]))[:top_k]
    assert got == [(p, c, s) for s, p, c in want]
    assert len(got) == top_k


def test_cluster_validity_matches_numpy_ss(spark):
    from satellitetools_spark.operators import similarity as SIM
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    g = SIM.cluster_validity(emb).collect()[0]
    rows = emb.select("vec_id", "label", "embedding").collect()
    X = np.array([r["embedding"] for r in rows], dtype=float)
    y = np.array([r["label"] for r in rows])
    labs = sorted(set(y))
    cen = {l: X[y == l].mean(axis=0) for l in labs}
    gc = X.mean(axis=0)
    wss = sum(float(((X[y == l] - cen[l]) ** 2).sum()) for l in labs)
    bss = sum(float((y == l).sum()) * float(((cen[l] - gc) ** 2).sum())
              for l in labs)
    n, k = len(X), len(labs)
    ch = (bss / (k - 1)) / (wss / (n - k))
    assert (g["n_vecs"], g["k_labels"]) == (n, k)
    # within/between ship rounded to 4 decimals, CH to 6
    assert abs(g["within_ss"] - wss) <= 1e-4
    assert abs(g["between_ss"] - bss) <= 1e-4
    assert np.isclose(g["calinski_harabasz"], ch, rtol=1e-6,
                      atol=1e-5)


def test_label_outliers_match_direct_zscores(spark):
    from satellitetools_spark.operators import similarity as SIM
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    got = {r["vec_id"]: r["z"]
           for r in SIM.label_outliers(emb).collect()}
    rows = emb.select("vec_id", "label", "embedding").collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype=float)
         for r in rows}
    lab = {r["vec_id"]: r["label"] for r in rows}
    labs = sorted(set(lab.values()))
    cen = {l: np.mean([X[i] for i in X if lab[i] == l], axis=0)
           for l in labs}
    # moments over the ROUND-6 distances (the silhouette surface)
    d = {i: _r(float(np.linalg.norm(X[i] - cen[lab[i]]))) for i in X}
    want = {}
    for l in labs:
        ds = np.array([d[i] for i in X if lab[i] == l])
        mu, sd = ds.mean(), ds.std()
        for i in X:
            if lab[i] != l or sd <= 0:
                continue
            z = _r((d[i] - mu) / sd)
            if z > 2.0:
                want[i] = z
    assert set(got) == set(want)
    assert want  # non-vacuous
    for i in want:
        assert abs(got[i] - want[i]) <= 2e-6


def test_label_propagation_matches_python_sync_rounds(spark):
    import __spark_entry__ as E
    from satellitetools_spark.operators import graph as GR
    pairs = E._emb_sim_graph(spark, SF)
    edges = [(r["vec_id_a"], r["vec_id_b"]) for r in pairs.collect()]
    got = {r["node"]: r["community"]
           for r in GR.label_propagation(
               pairs, src_col="vec_id_a",
               dst_col="vec_id_b").collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {n: n for n in adj}
    for _ in range(4):
        nxt = {}
        for n in adj:
            counts = {}
            for nb in adj[n]:
                l = label[nb]
                counts[l] = counts.get(l, 0) + 1
            nxt[n] = min(counts, key=lambda l: (-counts[l], l))
        label = nxt
    assert got == label
    assert len(set(label.values())) > 1  # real communities, not one
