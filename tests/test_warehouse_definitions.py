"""Definition-level cross-checks, batch 3 of the round-6 driver-window
families: windowed stream primitives (peaks, forecast backtest, SCD2
intervals, attribution carries) and observational inference (Hájek IPW,
Cochran-Armitage trend, term burstiness) — every mirror a plain-Python
fold over the real sf0.001 tables with p-values from `math.erfc`, never
the operator's shared polynomial."""

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


def _ev_series():
    import duckdb
    return duckdb.sql(
        f"SELECT event_type, epoch_us(ts), event_id, value FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()


def test_peak_detect_matches_direct_neighbor_scan(spark):
    from satellitetools_spark.operators.temporal import peak_detect
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    d = 0.5
    got = {(r["event_type"], r["pos"]): (r["value"], r["prominence"])
           for r in peak_detect(ev,
                                min_delta=d).collect()}
    per = {}
    for g, us, eid, v in _ev_series():
        per.setdefault(g, []).append((us, eid, float(v)))
    want = {}
    for g, pts in per.items():
        pts.sort(key=lambda p: (p[0], p[1]))
        vs = [p[2] for p in pts]
        for i in range(1, len(vs) - 1):
            if (vs[i] - vs[i - 1] >= d and vs[i] - vs[i + 1] >= d
                    and vs[i] > vs[i - 1] and vs[i] > vs[i + 1]):
                want[(g, i + 1)] = (
                    _r(vs[i]),
                    _r(min(vs[i] - vs[i - 1], vs[i] - vs[i + 1])))
    assert want  # sf0.001 plants ~324 peaks — empty would be vacuous
    assert got == want


def test_forecast_backtest_matches_direct_lag_errors(spark):
    from satellitetools_spark.operators.temporal import \
        forecast_backtest
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    s = 7
    got = {r["event_type"]: r for r in forecast_backtest(
        ev,
        season=s).collect()}
    per = {}
    for g, us, eid, v in _ev_series():
        per.setdefault(g, []).append((us, eid, float(v)))
    for g, pts in per.items():
        pts.sort(key=lambda p: (p[0], p[1]))
        vs = [p[2] for p in pts]
        e1 = [abs(vs[i] - vs[i - 1]) for i in range(s, len(vs))]
        es = [abs(vs[i] - vs[i - s]) for i in range(s, len(vs))]
        gg = got[g]
        assert gg["n_eval"] == len(e1)
        assert abs(gg["naive_mae"] - np.mean(e1)) <= 1e-6
        assert abs(gg["naive_rmse"]
                   - math.sqrt(np.mean(np.array(e1) ** 2))) <= 1e-6
        assert abs(gg["snaive_mae"] - np.mean(es)) <= 1e-6
        assert abs(gg["snaive_rmse"]
                   - math.sqrt(np.mean(np.array(es) ** 2))) <= 1e-6


def test_scd2_build_matches_plain_run_fold(spark):
    from satellitetools_spark.operators.temporal import scd2_build
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    out = scd2_build(ev, "user_id", "ts", ["event_type"]).select(
        "user_id", "event_type",
        F.unix_micros(F.col("valid_from").cast("timestamp"))
        .alias("vf"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("vt"),
        "is_current")
    got = {(r["user_id"], r["vf"]):
           (r["event_type"], r["vt"], r["is_current"])
           for r in out.collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), event_type FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for u, us, et in rows:
        per.setdefault(u, []).append((us, et))
    want = {}
    for u, lst in per.items():
        lst.sort()  # (ts, attr) — the operator's documented tie order
        runs = [lst[0]]
        for prev, cur in zip(lst, lst[1:]):
            if cur[1] != prev[1]:
                runs.append(cur)
        for i, (us, et) in enumerate(runs):
            nxt = runs[i + 1][0] if i + 1 < len(runs) else None
            want[(u, us)] = (et, nxt, nxt is None)
    assert len(want) > len(per)  # real runs, not one row per user
    assert got == want


def test_ipw_effect_matches_direct_weighted_sums(spark):
    import __spark_entry__ as E
    from satellitetools_spark.operators import inference as INF
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    g = INF.ipw_effect(docs, "doc_id % 2 = 1", "n_chars",
                       f"0.2 + 0.6 * ({E._SCORE_EXPR})").collect()[0]
    rows = docs.select("doc_id", "lang", "n_chars").collect()
    sw_t = sw_c = sw2_t = sw2_c = swy_t = swy_c = 0.0
    n_t = n_c = 0
    for r in rows:
        score = (((r["doc_id"] * 1103515245 + 12345) % 1000) / 1000.0
                 * 0.7 + 0.3 * (r["lang"] == "en"))
        e = min(0.99, max(0.01, 0.2 + 0.6 * score))
        y = float(r["n_chars"])
        if r["doc_id"] % 2 == 1:
            n_t += 1
            w = 1.0 / e
            sw_t += w
            sw2_t += w * w
            swy_t += w * y
        else:
            n_c += 1
            w = 1.0 / (1.0 - e)
            sw_c += w
            sw2_c += w * w
            swy_c += w * y
    assert (g["n_t"], g["n_c"]) == (n_t, n_c)
    assert abs(g["ess_t"] - sw_t * sw_t / sw2_t) <= 1e-5
    assert abs(g["ess_c"] - sw_c * sw_c / sw2_c) <= 1e-5
    assert abs(g["mean_t"] - swy_t / sw_t) <= 1e-5
    assert abs(g["mean_c"] - swy_c / sw_c) <= 1e-5
    assert abs(g["ate_ipw"]
               - (swy_t / sw_t - swy_c / sw_c)) <= 1e-5


def test_trend_test_matches_direct_cochran_armitage(spark):
    from satellitetools_spark.operators import inference as INF
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    g = INF.trend_test(docs, "CAST(FLOOR(n_chars / 100.0) AS INT)",
                       "lang = 'en'").collect()[0]
    rows = docs.select("n_chars", "lang").collect()
    per = {}
    for r in rows:
        w = float(int(math.floor(r["n_chars"] / 100.0)))
        n, rr = per.get(w, (0, 0))
        per[w] = (n + 1, rr + (r["lang"] == "en"))
    N = sum(n for n, _ in per.values())
    R = sum(r for _, r in per.values())
    p_bar = R / N
    num = sum(w * r for w, (_, r) in per.items()) \
        - sum(w * n for w, (n, _) in per.items()) * p_bar
    var = p_bar * (1 - p_bar) * (
        sum(w * w * n for w, (n, _) in per.items())
        - sum(w * n for w, (n, _) in per.items()) ** 2 / N)
    z = num / math.sqrt(var)
    assert (g["k"], g["n"]) == (len(per), N)
    assert abs(g["z"] - z) <= 1e-5
    assert abs(g["p_approx"] - math.erfc(abs(z) / math.sqrt(2))) <= 1e-5


def test_term_dispersion_matches_direct_vmr(spark):
    from satellitetools_spark.operators.text import term_dispersion
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    min_df, top_k = 5, 50
    got = [(r["rank"], r["term"], r["df"], r["tf"], r["vmr"])
           for r in term_dispersion(docs, min_df=min_df,
                                    top_k=top_k).collect()]
    rows = docs.select("doc_id", "text").collect()
    N = len({r["doc_id"] for r in rows})
    per = {}
    for r in rows:
        for t in re.split(r"\s+", r["text"].strip(" "),
                          flags=re.ASCII):
            per.setdefault(t, {})
            per[t][r["doc_id"]] = per[t].get(r["doc_id"], 0) + 1
    scored = []
    for t, cnts in per.items():
        df_ = len(cnts)
        if df_ < min_df:
            continue
        s = sum(cnts.values())
        s2 = sum(c * c for c in cnts.values())
        mean = s / N
        var = s2 / N - mean * mean
        scored.append((_r(var / mean), t, df_, s))
    scored.sort(key=lambda p: (-p[0], p[1]))
    want = [(i + 1, t, df_, s, vmr)
            for i, (vmr, t, df_, s) in enumerate(scored[:top_k])]
    assert got == want


def test_attribution_matches_plain_event_fold(spark):
    from satellitetools_spark.operators.temporal import attribution
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    out = attribution(ev, "event_type = 'purchase'",
                      "event_type IN ('view', 'click')",
                      86400.0).select(
        "user_id",
        F.unix_micros(F.col("conv_ts").cast("timestamp")).alias("ct"),
        "last_touch_type",
        F.unix_micros(F.col("last_touch_ts").cast("timestamp"))
        .alias("lt"),
        "first_touch_type", "in_window")
    got = {(r["user_id"], r["ct"]):
           (r["last_touch_type"], r["lt"], r["first_touch_type"],
            r["in_window"])
           for r in out.collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), event_type FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for u, us, et in rows:
        per.setdefault(u, []).append((us, et))
    want = {}
    for u, lst in per.items():
        lst.sort()  # (t, type) — the operator's window order
        convs_before = 0
        journeys = {}
        ann = []
        for us, et in lst:
            ann.append((us, et, convs_before))
            if et == "purchase":
                convs_before += 1
        for us, et, j in ann:
            if et in ("view", "click"):
                journeys.setdefault(j, []).append((us, et))
        for i, (us, et, j) in enumerate(ann):
            if et != "purchase":
                continue
            prior_touch = [(u2, t2) for u2, t2, _ in ann[:i]
                           if t2 in ("view", "click")]
            lt = max(prior_touch) if prior_touch else None
            ft = min(journeys[j]) if j in journeys else None
            in_w = (lt is not None
                    and (us - lt[0]) / 1e6 <= 86400.0)
            want[(u, us)] = (lt[1] if lt else None,
                             lt[0] if lt else None,
                             ft[1] if ft else None, in_w)
    assert len(want) > 100  # sf0.001 has ~202 purchase conversions
    assert got == want
