"""Definition-level cross-checks, batch 2 of the round-6 driver-window
families: per-key sequential recursions (Holt), long-memory estimators
(Hurst), parametric trend inference (OLS + true erfc), clustering
geometry (centroid silhouette), greedy re-ranking (MMR), frontier BFS,
and the rank-based inverse normal transform (Φ⁻¹ inverted by bisection
on `math.erfc` — independent of the operator's Acklam polynomial).
Each mirror is a plain-Python/NumPy fold over the real sf0.001 tables,
sharing no Spark expressions with the operator."""

import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _r(x, nd=6):
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def test_ols_trend_matches_numpy_lstsq(spark):
    from satellitetools_spark.operators import modeleval as ME
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    got = {r["grp"]: r for r in ME.ols_fit(
        ev, "value", "CAST(CAST(ts AS TIMESTAMP) AS DOUBLE) / 86400.0",
        "event_type").collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT event_type, epoch(ts) / 86400.0, value FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for g, x, v in rows:
        per.setdefault(g, []).append((float(x), float(v)))
    for g, pts in per.items():
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        n = len(x)
        slope, icept = np.polyfit(x, y, 1)
        yhat = slope * x + icept
        ssr = float(((y - yhat) ** 2).sum())
        sxx = float(((x - x.mean()) ** 2).sum())
        r2 = float(np.corrcoef(x, y)[0, 1]) ** 2
        s2 = ssr / (n - 2)
        se_slope = math.sqrt(s2 / sxx)
        t = slope / se_slope
        p = math.erfc(abs(t) / math.sqrt(2.0))
        gg = got[g]
        assert gg["n"] == n
        assert np.isclose(gg["slope"], slope, rtol=1e-4, atol=2e-6)
        assert np.isclose(gg["intercept"], icept, rtol=1e-4, atol=2e-4)
        assert np.isclose(gg["r2"], r2, rtol=1e-4, atol=2e-6)
        assert np.isclose(gg["resid_se"], math.sqrt(s2),
                          rtol=1e-4, atol=2e-6)
        assert np.isclose(gg["se_slope"], se_slope, rtol=1e-4,
                          atol=2e-6)
        assert np.isclose(gg["t_stat"], t, rtol=1e-4, atol=2e-5)
        assert np.isclose(gg["p_approx"], p, rtol=1e-3, atol=1e-5)


def test_holt_smooth_matches_python_recursion(spark):
    from satellitetools_spark.operators.temporal import holt_smooth
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet")) \
        .select("user_id", "ts", "value")
    a, b_f, h = 0.3, 0.1, 7
    got = {r["user_id"]: r for r in holt_smooth(
        ev, alpha=a, beta=b_f,
        horizon=h).collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), value FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for u, us, v in rows:
        per.setdefault(u, []).append((us, float(v)))
    for u, pts in per.items():
        pts.sort()
        level = trend = sse = 0.0
        for i, (_, x) in enumerate(pts):
            if i == 0:
                level, trend = x, 0.0
                continue
            pred = level + trend
            err = x - pred
            l1 = a * x + (1 - a) * pred
            trend = b_f * (l1 - level) + (1 - b_f) * trend
            level = l1
            sse += err * err
        g = got[u]
        assert g["n_obs"] == len(pts)
        assert abs(g["level"] - level) <= 1e-6
        assert abs(g["trend"] - trend) <= 1e-6
        assert abs(g["sse"] - sse) <= 1e-5
        assert abs(g[f"forecast_{h}"] - (level + h * trend)) <= 1e-5


def test_hurst_exponent_matches_direct_block_variances(spark):
    from satellitetools_spark.operators.temporal import hurst_exponent
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    levels = (1, 2, 4, 8)
    got = {r["event_type"]: r for r in hurst_exponent(
        ev,
        levels=levels).collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT event_type, epoch_us(ts), event_id, value FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for g, us, eid, v in rows:
        per.setdefault(g, []).append((us, eid, float(v)))
    for g, pts in per.items():
        pts.sort(key=lambda p: (p[0], p[1]))
        v = np.array([p[2] for p in pts])
        xs, ys = [], []
        ok = True
        for k in levels:
            nb = len(v) // k
            if nb <= 1:
                ok = False
                break
            bm = v[:nb * k].reshape(nb, k).mean(axis=1)
            var = float(bm.var())  # population variance
            if var <= 0:
                ok = False
                break
            xs.append(math.log(k))
            ys.append(math.log(var))
        gg = got[g]
        if not ok:
            assert gg["hurst"] is None
            continue
        slope = np.polyfit(np.array(xs), np.array(ys), 1)[0]
        assert gg["n_levels"] == len(levels)
        assert abs(gg["hurst"] - (1.0 + slope / 2.0)) <= 1e-5


def test_label_silhouette_matches_numpy_centroids(spark):
    from satellitetools_spark.operators import similarity as SIM
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    got = {r["vec_id"]: r for r in SIM.label_silhouette(emb).collect()}
    rows = emb.select("vec_id", "label", "embedding").collect()
    labs = sorted({r["label"] for r in rows})
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float)
            for r in rows}
    lab_of = {r["vec_id"]: r["label"] for r in rows}
    cen = {l: np.mean([vecs[i] for i in vecs if lab_of[i] == l],
                      axis=0) for l in labs}
    for i, v in vecs.items():
        own = lab_of[i]
        a = float(np.linalg.norm(v - cen[own]))
        b = min(float(np.linalg.norm(v - cen[l]))
                for l in labs if l != own)
        s = (b - a) / max(a, b)
        g = got[i]
        assert abs(g["dist_own"] - a) <= 1e-5
        assert abs(g["dist_other"] - b) <= 1e-5
        assert abs(g["silhouette"] - s) <= 1e-5


def test_mmr_select_matches_python_greedy(spark):
    from satellitetools_spark.operators import similarity as SIM
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    qid, k, lam, pool = 7, 5, 0.7, 50
    got = [(r["rank"], r["vec_id"], r["rel"], r["score"])
           for r in SIM.mmr_select(emb, query_id=qid, k=k, lam=lam,
                                   pool=pool).collect()]
    got.sort()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float)
            for r in emb.select("vec_id", "embedding").collect()}
    q = vecs[qid]

    def cos(a, b):
        return _r(float(np.dot(a, b))
                  / (math.sqrt(float(np.dot(a, a)))
                     * math.sqrt(float(np.dot(b, b)))))

    rel = {i: cos(v, q) for i, v in vecs.items() if i != qid}
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:pool]
    sel = [max(cand, key=lambda i: (rel[i], -i))]
    want = [(1, sel[0], rel[sel[0]], _r(lam * rel[sel[0]]))]
    for step in range(2, k + 1):
        best = None
        for i in cand:
            if i in sel:
                continue
            ms = max(cos(vecs[i], vecs[s]) for s in sel)
            score = _r(lam * rel[i] - (1 - lam) * ms)
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, score)
        sel.append(best[1])
        want.append((step, best[1], rel[best[1]], best[2]))
    assert [(r, i) for r, i, _, _ in got] == \
        [(r, i) for r, i, _, _ in want]
    for (_, _, gr, gs), (_, _, wr, ws) in zip(got, want):
        assert abs(gr - wr) <= 1e-9
        assert abs(gs - ws) <= 1e-9


def test_bfs_hops_matches_python_bfs(spark):
    # the emb-similarity edge set is collected once and BFS re-run as
    # a plain Python frontier loop — checks the operator's min-merge
    # rounds, seed hop-0 handling, and the max_hops cut.
    import __spark_entry__ as E
    from satellitetools_spark.operators import graph as GR
    pairs = E._emb_sim_graph(spark, SF)
    edges = [(r["vec_id_a"], r["vec_id_b"]) for r in pairs.collect()]
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    seeds = sorted(n for n in nodes if n % 7 == 0)
    seeds_df = spark.createDataFrame([(s,) for s in seeds],
                                     "node long")
    got = {r["node"]: r["hops"]
           for r in GR.bfs_hops(pairs, seeds_df, max_hops=4,
                                src_col="vec_id_a",
                                dst_col="vec_id_b").collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, 5):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = h
                    nxt.add(v)
        frontier = nxt
    assert got == dist


def _phi(z):
    return 0.5 * math.erfc(-z / math.sqrt(2.0))


def _inv_phi(p):
    lo, hi = -10.0, 10.0
    for _ in range(80):
        mid = (lo + hi) / 2.0
        if _phi(mid) < p:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def test_rank_inverse_normal_matches_bisection_inverse(spark):
    # Φ⁻¹ re-derived by bisection on math.erfc — fully independent of
    # the operator's Acklam rational approximation (|err| ~1e-9) —
    # plus direct midrank counting from the raw values.
    from satellitetools_spark.operators import inference as INF
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    got = {(r["grp"], r["v"]): (r["n_v"], r["midrank"], r["z"])
           for r in INF.rank_inverse_normal(
               ev, "value", "event_type").collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT event_type, value FROM "
        f"'{os.path.join(SF, 'events.parquet')}' "
        f"WHERE value IS NOT NULL").fetchall()
    per = {}
    for g, v in rows:
        per.setdefault(g, []).append(float(v))
    want_n = 0
    for g, vs in per.items():
        vs.sort()
        n = len(vs)
        # distinct values with counts + end-cumulative
        cum = 0
        i = 0
        while i < n:
            j = i
            while j < n and vs[j] == vs[i]:
                j += 1
            nv = j - i
            cum += nv
            midrank = cum - (nv - 1) / 2.0
            z = _inv_phi((midrank - 0.5) / n)
            gn, gm, gz = got[(g, vs[i])]
            assert gn == nv
            assert abs(gm - midrank) <= 1e-6
            assert abs(gz - z) <= 2e-6
            want_n += 1
            i = j
    assert len(got) == want_n
