"""Definition-level cross-checks for the TEXT / TEMPORAL / GRAPH oracle
families entering the round-5/6 driver windows (r4 verdict ask #2): each
family's DuckDB oracle mirrors the operator's CONSTRUCTION (same CTE
layers, same unrolled iterations), so a construction-level error would
pass the gate. These tests compare against DIRECT, algorithmically
independent reimplementations — plain-Python per-document folds,
brute-force window minima, a plain event fold, dense NumPy power
iteration — over the REAL sf0.001 driver tables, not synthetic
regenerations of the operator's own pipeline."""

import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _r(x, nd):
    """Java BigDecimal HALF_UP rounding of a double, matching
    F.round (Python's round() is banker's — NOT equivalent)."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def _toks(text):
    return re.findall(r"[a-z0-9]+", text.lower())


def _docs_rows(spark):
    df = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    return df, {r["doc_id"]: r["text"]
                for r in df.select("doc_id", "text").collect()}


def test_tfidf_topk_matches_direct_python_fold(spark):
    # direct fold: tf per doc from a plain dict count, df across docs,
    # idf/weight with the exact documented rounding, per-doc rank by
    # (weight desc, token asc) — no Spark expressions shared with the
    # operator, no window functions.
    from satellitetools_spark.operators import text as TX
    df, texts = _docs_rows(spark)
    k, min_df = 5, 2
    tf = {d: {} for d in texts}
    for d, t in texts.items():
        for tok in _toks(t):
            tf[d][tok] = tf[d].get(tok, 0) + 1
    dfreq = {}
    for d in texts:
        for tok in tf[d]:
            dfreq[tok] = dfreq.get(tok, 0) + 1
    n = len(texts)
    idf = {tok: _r(math.log((n + 1) / (c + 1)) + 1.0, 6)
           for tok, c in dfreq.items() if c >= min_df}
    want = set()
    for d in texts:
        scored = sorted(
            ((_r(cnt * idf[tok], 6), tok)
             for tok, cnt in tf[d].items() if tok in idf),
            key=lambda p: (-p[0], p[1]))
        for rank, (wgt, tok) in enumerate(scored[:k], start=1):
            want.add((d, tok, wgt, rank))
    got = {(r["doc_id"], r["token"], r["weight"], r["rank"])
           for r in TX.tfidf_topk(df, k=k, min_df=min_df).collect()}
    assert got == want


def test_bm25_topk_matches_direct_python_fold(spark):
    from satellitetools_spark.operators import text as TX
    import __spark_entry__ as E
    df, texts = _docs_rows(spark)
    terms = sorted(set(E.BM25_QUERY))
    k1, b, k = 1.2, 0.75, 25
    toks = {d: _toks(t) for d, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    rows = []
    for d, v in toks.items():
        s, hits = 0.0, 0
        for t in terms:
            tfv = v.count(t)
            if tfv == 0:
                continue
            hits += 1
            idf = math.log(1.0 + (n - dfreq[t] + 0.5)
                           / (dfreq[t] + 0.5))
            s += idf * tfv * (k1 + 1.0) / (
                tfv + k1 * (1.0 - b + b * len(v) / avgdl))
        if hits:
            rows.append((d, _r(s, 6), hits))
    rows.sort(key=lambda r: (-r[1], r[0]))
    want = rows[:k]
    got = [(r["doc_id"], r["bm25"], r["n_terms_hit"])
           for r in TX.bm25_topk(df.select("doc_id", "text"),
                                 E.BM25_QUERY, k=k).collect()]
    # scores to fp tolerance (different summation order), identical
    # selection and ordering
    assert [(d, h) for d, _, h in got] == [(d, h) for d, _, h in want]
    for (_, sg, _), (_, sw, _) in zip(got, want):
        assert abs(sg - sw) <= 2e-6


def test_winnow_fingerprints_match_bruteforce_window_min(spark):
    # brute-force reimplementation: per-token char fold, k-shingle
    # polynomial combine, then an O(n·w) explicit min over EVERY
    # w-window — no Spark arrays, no transform/slice.
    from satellitetools_spark.operators import text as TX
    from satellitetools_spark.operators.text import (WINNOW_K, WINNOW_W,
                                                     _WB, _WM)
    df, texts = _docs_rows(spark)
    want = set()
    for d, t in texts.items():
        th = []
        for tok in _toks(t):
            h = 0
            for c in tok:
                h = (h * _WB + ord(c)) % _WM
            th.append(h)
        if len(th) < WINNOW_K:
            continue
        hs = []
        for i in range(len(th) - WINNOW_K + 1):
            h = th[i]
            for j in range(1, WINNOW_K):
                h = (h * _WB + th[i + j]) % _WM
            hs.append(h)
        if len(hs) < WINNOW_W:
            continue
        for i in range(len(hs) - WINNOW_W + 1):
            want.add((d, min(hs[i:i + WINNOW_W])))
    got = {(r["doc_id"], r["fp"])
           for r in TX.winnow_fingerprints(df).collect()}
    assert got == want


def test_sessionize_matches_plain_python_event_fold(spark):
    import __spark_entry__ as E
    from satellitetools_spark.operators.temporal import sessionize
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    gap = E.SESSION_GAP_S
    out = sessionize(ev, key=["user_id"],
                     gap_seconds=gap).select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp"))
        .alias("us"), "session_seq")
    got = sorted((r["user_id"], r["us"], r["session_seq"])
                 for r in out.collect())
    # plain fold: sort each user's integer-microsecond epochs, start a
    # new session when the gap strictly exceeds gap*1e6 — ties give
    # identical assignments regardless of intra-tie order.
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, epoch_us(ts) AS us FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for u, us in rows:
        per.setdefault(u, []).append(us)
    gap_us = int(round(gap * 1e6))
    want = []
    for u, lst in per.items():
        lst.sort()
        seq = 0
        prev = None
        for us in lst:
            if prev is None or us - prev > gap_us:
                seq += 1
            want.append((u, us, seq))
            prev = us
    assert got == sorted(want)


def test_funnel_matches_plain_python_event_fold(spark):
    from satellitetools_spark.operators.temporal import funnel
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    steps = ["view", "click", "purchase"]
    ev = spark.read.parquet(os.path.join(SF, "events.parquet")) \
        .select("user_id", "event_type", "ts")
    got = {r["step"]: (r["event_type"], r["n_users"], r["conv_rate"],
                       r["avg_seconds"])
           for r in funnel(ev, steps=steps).collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, event_type, epoch_us(ts) AS us FROM "
        f"'{os.path.join(SF, 'events.parquet')}' WHERE event_type IN "
        f"('view','click','purchase')").fetchall()
    per = {}
    for u, et, us in rows:
        per.setdefault(u, {}).setdefault(et, []).append(us)
    reached = {i: [] for i in range(len(steps))}  # step -> [(t0, ti)]
    for u, by in per.items():
        for lst in by.values():
            lst.sort()
        if steps[0] not in by:
            continue
        t_prev = by[steps[0]][0]
        t0 = t_prev
        reached[0].append((t0, t0))
        for i in range(1, len(steps)):
            nxt = [t for t in by.get(steps[i], []) if t > t_prev]
            if not nxt:
                break
            t_prev = nxt[0]
            reached[i].append((t0, t_prev))
    n_base = len(reached[0])
    for i, s in enumerate(steps):
        et, n_users, conv, avg_s = got[i + 1]
        assert et == s
        assert n_users == len(reached[i])
        assert abs(conv - len(reached[i]) / n_base) <= 1e-6
        if reached[i]:
            want_avg = sum((ti - t0) / 1e6
                           for t0, ti in reached[i]) / len(reached[i])
            assert abs(avg_s - want_avg) <= 1e-5
        else:
            assert avg_s is None


def _li_edges(spark):
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    return li.select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("doc_a"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("doc_b"))


def test_pagerank_matches_dense_numpy_power_iteration(spark):
    # dense power iteration on the sf0.001 order↔part pair graph:
    # explicit adjacency accumulation with np.add.at, no joins, no SQL.
    # Pair multiplicity is part of the definition (pagerank() does not
    # dedupe), so the fold keeps it too.
    from satellitetools_spark.operators import graph as GR
    pairs = _li_edges(spark)
    iters, d = 3, 0.85
    got = {r["node"]: r["pr"]
           for r in GR.pagerank(pairs, iters=iters).collect()}
    raw = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    edges = raw + [(b, a) for a, b in raw]
    nodes = sorted({a for a, _ in edges})
    ix = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([ix[a] for a, _ in edges])
    dst = np.array([ix[b] for _, b in edges])
    deg = np.zeros(n)
    np.add.at(deg, src, 1.0)
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, pr[src] / deg[src])
        pr = (1.0 - d) / n + d * contrib
    assert set(got) == set(nodes)
    for v, i in ix.items():
        assert abs(got[v] - pr[i]) <= 2e-9


def test_hits_matches_dense_numpy_iteration(spark):
    # dense mutual-reinforcement on the DIRECTED sf0.001 customer→part
    # purchase graph (the q_sales_hits edge set), L1-normalized each
    # half-step exactly as documented.
    from satellitetools_spark.operators import graph as GR
    orders = spark.read.parquet(os.path.join(SF, "orders.parquet")) \
        .select("o_orderkey", "o_custkey")
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet")) \
        .select("l_orderkey", "l_partkey")
    edges = (orders.join(li, orders.o_orderkey == li.l_orderkey)
             .select(F.col("o_custkey").alias("src"),
                     F.col("l_partkey").alias("dst")))
    iters = 4
    got = {(r["side"], r["node"]): r["score"]
           for r in GR.hits(edges, iters=iters).collect()}
    e = {(r["src"], r["dst"]) for r in edges.collect()}  # distinct
    srcs = sorted({s for s, _ in e})
    dsts = sorted({t for _, t in e})
    si = {v: i for i, v in enumerate(srcs)}
    di = {v: i for i, v in enumerate(dsts)}
    es = np.array([si[s] for s, _ in e])
    ed = np.array([di[t] for _, t in e])
    hub = np.full(len(srcs), 1.0 / len(srcs))
    auth = None
    for _ in range(iters):
        araw = np.zeros(len(dsts))
        np.add.at(araw, ed, hub[es])
        auth = araw / araw.sum()
        hraw = np.zeros(len(srcs))
        np.add.at(hraw, es, auth[ed])
        hub = hraw / hraw.sum()
    for v, i in si.items():
        assert abs(got[("hub", v)] - hub[i]) <= 2e-9
    for v, i in di.items():
        assert abs(got[("authority", v)] - auth[i]) <= 2e-9
    assert len(got) == len(srcs) + len(dsts)


def test_gini_concentration_matches_pairwise_mad_definition(spark):
    # the operator computes Gini by the sorted-rank closed form over
    # exact decimals; the DEFINITION is the mean absolute difference:
    # G = sum_ij |xi - xj| / (2 n^2 mu). Algebraically equal, but a
    # rank/offset bug would break one and not the other.
    from satellitetools_spark.operators.segment import \
        gini_concentration
    rng = np.random.RandomState(31)
    rows = [(int(rng.randint(1, 41)), float(rng.gamma(2.0, 50.0)))
            for _ in range(300)]
    li = spark.createDataFrame(
        rows, "l_suppkey int, l_extendedprice double")
    got = gini_concentration(li).collect()[0]
    # direct fold: per-key totals at cents precision (the operator
    # casts to DECIMAL(18,2)), then the O(n^2) pairwise sum
    from decimal import Decimal
    per = {}
    for k, v in rows:
        per[k] = per.get(k, Decimal(0)) + Decimal(repr(v)).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP)
    xs = sorted(per.values())
    n = len(xs)
    mad = sum(abs(float(a) - float(b)) for a in xs for b in xs)
    gini = mad / (2.0 * n * n * (float(sum(xs)) / n))
    assert got["n_keys"] == n
    assert abs(got["gini"] - gini) <= 2e-6
    # top-decile share by the same (total asc, key asc) boundary order
    n_top = math.ceil(0.1 * n)
    ordered = sorted(per.items(), key=lambda kv: (kv[1], kv[0]))
    top = sum(float(v) for _, v in ordered[-n_top:])
    assert abs(got["top_share"] - top / float(sum(xs))) <= 2e-6


def test_zipf_fit_matches_numpy_polyfit(spark):
    # independent math: numpy least squares + corrcoef on the log-log
    # top-200 cut of the REAL sf0.001 corpus, vs the operator's
    # moment-form OLS expressions.
    from satellitetools_spark.operators.text import zipf_fit
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    got = {r["lang"]: r for r in zipf_fit(docs).collect()}
    freq = {}
    for r in docs.select("lang", "text").collect():
        for tok in r["text"].split(" "):
            if tok:
                key = (r["lang"], tok)
                freq[key] = freq.get(key, 0) + 1
    langs = {lang for lang, _ in freq}
    for lang in langs:
        items = sorted(((f, t) for (lg, t), f in freq.items()
                        if lg == lang), key=lambda p: (-p[0], p[1]))
        items = items[:200]
        x = np.log(np.arange(1, len(items) + 1, dtype=float))
        y = np.log(np.array([f for f, _ in items], dtype=float))
        slope, intercept = np.polyfit(x, y, 1)
        r2 = float(np.corrcoef(x, y)[0, 1]) ** 2
        g = got[lang]
        assert g["n_types"] == len(items)
        assert abs(g["zipf_slope"] - slope) <= 1e-5
        assert abs(g["intercept"] - intercept) <= 1e-5
        assert abs(g["r2"] - r2) <= 1e-5


def test_cusum_alarms_matches_plain_python_fold(spark):
    # Page's test re-folded in plain Python over a planted drift: the
    # operator's aggregate() expression fold and its reset-on-alarm
    # semantics must reproduce the sequential recursion exactly.
    from satellitetools_spark.operators.temporal import cusum_alarms
    import datetime as dt
    rng = np.random.RandomState(5)
    rows = []
    for u in range(8):
        n = 60
        drift = (np.linspace(0, 4.0, n) if u % 2 == 0
                 else np.zeros(n))
        vals = rng.normal(0, 1, n) + drift
        for i, v in enumerate(vals):
            rows.append((u, dt.datetime(2024, 1, 1)
                         + dt.timedelta(minutes=7 * i), float(v)))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, "
                                     "value double")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = {r["user_id"]: (r["n_obs"], r["n_alarms"])
           for r in cusum_alarms(df).collect()}
    per = {}
    for u, ts, v in rows:
        per.setdefault(u, []).append((ts, v))
    for u, lst in per.items():
        vs = np.array([v for _, v in lst])
        mu = vs.sum() / len(vs)
        sd = math.sqrt(max(float((vs * vs).sum()) / len(vs)
                           - mu * mu, 0.0))
        zs = [((v - mu) / sd if sd > 0 else 0.0)
              for _, v in sorted(lst, key=lambda p: p[0])]
        sp = sn = 0.0
        alarms = 0
        for z in zs:
            sp = max(0.0, sp + z - 0.5)
            sn = max(0.0, sn - z - 0.5)
            if sp > 4.0 or sn > 4.0:
                alarms += 1
                sp = sn = 0.0
        assert got[u] == (len(zs), alarms)


def test_transition_counts_matches_direct_pair_fold(spark):
    # first-order Markov matrix over the REAL sf0.001 event stream vs
    # a plain per-user consecutive-pair count in Python.
    from satellitetools_spark.operators.temporal import \
        transition_counts
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet")) \
        .select("user_id", "event_type", "ts")
    got = {(r["from_type"], r["to_type"]): (r["n"], r["p"])
           for r in transition_counts(ev).collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, event_type, epoch_us(ts) FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for u, et, us in rows:
        per.setdefault(u, []).append((us, et))
    counts = {}
    for u, lst in per.items():
        lst.sort()  # (us, type) — the operator's documented tie order
        for (_, a), (_, b) in zip(lst, lst[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    assert set(got) == set(counts)
    row_tot = {}
    for (a, _), n in counts.items():
        row_tot[a] = row_tot.get(a, 0) + n
    for (a, b), n in counts.items():
        gn, gp = got[(a, b)]
        assert gn == n
        assert gp == _r(n / row_tot[a], 6)
