"""Round-3c operators: Getis-Ord Gi* hotspots, Mann-Kendall trend +
Sen's slope.

Each test checks SEMANTICS against a planted ground truth (a spiked
block must light up hot, a monotone ramp must trend with the hand-computed
z) — oracle-twin equality is the gate's job (scripts/check_correctness.py)."""

import math

import pytest

from satellitetools_spark.operators import spatial as SP
from satellitetools_spark.operators import temporal as TP


def _dem(spark, cells):
    rows = [(iy * 2 ** 32 + ix, float(v)) for ix, iy, v in cells]
    return spark.createDataFrame(rows, "cell long, elevation double")


def _series(spark, rows):
    return spark.createDataFrame(rows, "aoi string, date_str string, v double")


def test_gstar_spiked_block_is_hot(spark):
    # flat 7x7 plain with a 2x2 block of 10s: every block cell's 3x3
    # stencil holds all four spikes -> strongly positive z; a far corner
    # sees none -> mildly negative, not significant
    cells = [(x, y, 10.0 if (2 <= x <= 3 and 2 <= y <= 3) else 0.0)
             for x in range(7) for y in range(7)]
    out = {(r["ix"], r["iy"]): r
           for r in SP.getis_ord_gstar(SP.dem_pixels(_dem(spark, cells)))
           .collect()}
    assert len(out) == 49
    for bx, by in [(2, 2), (2, 3), (3, 2), (3, 3)]:
        assert out[(bx, by)]["gi_z"] > 1.96
        assert out[(bx, by)]["spot"] == "hot"
    assert out[(0, 0)]["spot"] == "ns"
    assert out[(0, 0)]["gi_z"] < 0
    # hand check of the interior block cell: n=49, mu=40/49,
    # s=sqrt(400/49 - mu^2), Wi=9, gsum=40
    mu = 40.0 / 49
    s = math.sqrt(400.0 / 49 - mu * mu)
    z = (40.0 - mu * 9) / (s * math.sqrt((49 * 9.0 - 81) / 48))
    assert out[(2, 2)]["gi_z"] == pytest.approx(z, abs=1e-5)
    assert out[(2, 2)]["w_i"] == 9


def test_gstar_border_support_counts_realized_links(spark):
    cells = [(x, y, float(x + y)) for x in range(3) for y in range(3)]
    out = {(r["ix"], r["iy"]): r["w_i"]
           for r in SP.getis_ord_gstar(SP.dem_pixels(_dem(spark, cells)))
           .collect()}
    assert out[(1, 1)] == 9     # interior: full stencil
    assert out[(0, 0)] == 4     # corner: self + 3 neighbors
    assert out[(1, 0)] == 6     # edge: self + 5 neighbors


def test_mann_kendall_monotone_ramp(spark):
    # strictly increasing daily series: S = C(10,2) = 45, no ties,
    # Var = 10*9*25/18 = 125, z = 44/sqrt(125); every pairwise slope
    # is exactly 0.1/day so Sen's slope is exact
    rows = [("a", f"2024-01-{d:02d}", 0.1 * d) for d in range(1, 11)]
    out = TP.mann_kendall(_series(spark, rows), key_cols=("aoi",),
                          time_col="date_str", value_col="v").collect()[0]
    assert out["n_obs"] == 10
    assert out["s_stat"] == 45
    assert out["var_s"] == pytest.approx(125.0)
    assert out["mk_z"] == pytest.approx(44.0 / math.sqrt(125.0), abs=1e-6)
    assert out["sen_slope"] == pytest.approx(0.1, abs=1e-9)


def test_mann_kendall_decreasing_mirrors_sign(spark):
    rows = [("a", f"2024-01-{d:02d}", -0.1 * d) for d in range(1, 11)]
    out = TP.mann_kendall(_series(spark, rows), value_col="v").collect()[0]
    assert out["s_stat"] == -45
    assert out["mk_z"] == pytest.approx(-44.0 / math.sqrt(125.0), abs=1e-6)
    assert out["sen_slope"] == pytest.approx(-0.1, abs=1e-9)


def test_mann_kendall_tie_correction_and_median_slope(spark):
    # [1, 1, 2] daily: S = 0+1+1 = 2; ties: one group of 2 ->
    # Var = (3*2*11 - 2*1*9)/18 = 48/18; z = 1/sqrt(48/18);
    # slopes {0, 0.5, 1} -> Sen = 0.5
    rows = [("a", "2024-01-01", 1.0), ("a", "2024-01-02", 1.0),
            ("a", "2024-01-03", 2.0)]
    out = TP.mann_kendall(_series(spark, rows), value_col="v").collect()[0]
    assert out["s_stat"] == 2
    assert out["var_s"] == pytest.approx(48.0 / 18.0, abs=1e-6)
    assert out["mk_z"] == pytest.approx(1.0 / math.sqrt(48.0 / 18.0),
                                        abs=1e-6)
    assert out["sen_slope"] == pytest.approx(0.5, abs=1e-9)


def test_mann_kendall_constant_series_has_null_z(spark):
    # all tied: S = 0 and the tie correction zeroes the variance ->
    # z must be NULL (0/0 guarded), never NaN
    rows = [("a", f"2024-01-{d:02d}", 0.5) for d in range(1, 6)]
    out = TP.mann_kendall(_series(spark, rows), value_col="v").collect()[0]
    assert out["s_stat"] == 0
    assert out["var_s"] == pytest.approx(0.0)
    assert out["mk_z"] is None
    assert out["sen_slope"] == pytest.approx(0.0)


def test_mann_kendall_per_key_independence(spark):
    rows = ([("up", f"2024-01-{d:02d}", 0.1 * d) for d in range(1, 6)]
            + [("dn", f"2024-01-{d:02d}", -0.2 * d) for d in range(1, 6)])
    out = {r["aoi"]: r for r in
           TP.mann_kendall(_series(spark, rows), value_col="v").collect()}
    assert out["up"]["s_stat"] == 10
    assert out["dn"]["s_stat"] == -10
    assert out["up"]["sen_slope"] == pytest.approx(0.1, abs=1e-9)
    assert out["dn"]["sen_slope"] == pytest.approx(-0.2, abs=1e-9)


def test_mann_kendall_plan_no_cartesian(spark):
    rows = [("a", f"2024-01-{d:02d}", 0.1 * d) for d in range(1, 6)]
    plan = TP.mann_kendall(_series(spark, rows), value_col="v") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan   # pair join must stay key-equi


def test_emerging_hotspot_migrating_spike(spark):
    # two spikes trading intensity across 5 dates on a flat 5x5 plain:
    # (0,0) ramps up, (4,4) ramps down. Gi* is scale-relative, so the
    # rising spike's z trend is positive, the fading one's negative.
    rows = []
    for t in range(1, 6):
        date = f"2024-01-{t:02d}"
        for x in range(5):
            for y in range(5):
                v = float(t) if (x, y) == (0, 0) else (
                    float(6 - t) if (x, y) == (4, 4) else 0.0)
                rows.append((date, (x + 0.5) * 10.0, (y + 0.5) * 10.0,
                             v, 10.0))
    px = spark.createDataFrame(
        rows, "doc_id string, x double, y double, v double, gsd double")
    gz = SP.gstar_by_doc(px)
    out = {(r["ix"], r["iy"]): r for r in TP.mann_kendall(
        gz.select("doc_id", "ix", "iy", "gi_z"),
        key_cols=("ix", "iy"), time_col="doc_id",
        value_col="gi_z").collect()}
    assert out[(0, 0)]["s_stat"] == 10     # strictly rising z: C(5,2)
    assert out[(0, 0)]["sen_slope"] > 0
    assert out[(4, 4)]["s_stat"] == -10
    assert out[(4, 4)]["sen_slope"] < 0


def test_gstar_by_doc_moments_are_per_doc(spark):
    # same cell pattern under two docs with different backgrounds must
    # get identical z (moments computed within each doc, not pooled)
    rows = []
    for doc, bg in (("d1", 0.0), ("d2", 100.0)):
        for x in range(3):
            for y in range(3):
                v = bg + (5.0 if (x, y) == (1, 1) else 0.0)
                rows.append((doc, (x + 0.5) * 10.0, (y + 0.5) * 10.0,
                             v, 10.0))
    px = spark.createDataFrame(
        rows, "doc_id string, x double, y double, v double, gsd double")
    out = {(r["doc_id"], r["ix"], r["iy"]): r["gi_z"]
           for r in SP.gstar_by_doc(px).collect()}
    for cell in [(0, 0), (1, 1), (2, 0)]:
        assert out[("d1", *cell)] == pytest.approx(
            out[("d2", *cell)], abs=2e-6)


def test_variogram_linear_gradient(spark):
    # v = x on a 6x6 grid: gamma((1,0)) mixes with (0,1)/(1,-1)(1,1)
    # classes by d2. d2=1 class = offsets (1,0)+(0,1): (1,0) pairs have
    # diff^2=1, (0,1) pairs diff^2=0 -> gamma = n10/(2*(n10+n01))... use
    # exact counts: 6x6 grid, (1,0): 30 pairs diff 1; (0,1): 30 pairs
    # diff 0 -> gamma(d2=1) = 30/(2*60) = 0.25
    cells = [(x, y, float(x)) for x in range(6) for y in range(6)]
    out = {r["d2"]: r for r in SP.variogram(
        _dem(spark, cells), max_d2=2).collect()}
    assert out[1]["n_pairs"] == 60
    assert out[1]["gamma"] == pytest.approx(0.25)
    # d2=2: offsets (1,1) and (1,-1), 25 pairs each, diff^2=1 each
    assert out[2]["n_pairs"] == 50
    assert out[2]["gamma"] == pytest.approx(0.5)
    assert out[2]["lag"] == pytest.approx(math.sqrt(2.0), abs=1e-6)


def test_variogram_counts_each_pair_once(spark):
    # two cells side by side: exactly one (1,0) pair
    cells = [(0, 0, 1.0), (1, 0, 3.0)]
    out = SP.variogram(_dem(spark, cells), max_d2=1).collect()
    assert len(out) == 1
    assert out[0]["n_pairs"] == 1
    assert out[0]["gamma"] == pytest.approx(2.0)   # (3-1)^2 / 2


def test_harmonic_anomaly_flags_planted_outlier(spark):
    # clean sinusoid + one corrupted observation: only that row flags
    import datetime
    w = 2.0 * math.pi / 365.25
    rows = []
    for d in range(1, 366, 5):
        date = (datetime.date(2024, 1, 1)
                + datetime.timedelta(days=d - 1)).isoformat()
        v = 0.4 + 0.25 * math.cos(w * d)
        if d == 101:
            v -= 0.5          # disturbance
        rows.append(("a", date, v))
    out = TP.harmonic_anomaly(_series(spark, rows), value_col="v").collect()
    flagged = [r for r in out if r["is_anomaly"] == 1]
    assert len(flagged) == 1
    assert flagged[0]["date_str"] == "2024-04-10"   # day 101
    assert flagged[0]["resid"] < -0.3
    clean = [r for r in out if r["is_anomaly"] == 0]
    assert len(clean) == len(out) - 1
    assert all(abs(r["resid"]) <= 2.0 * r["rmse"] for r in clean)


def test_chunk_documents_windows_and_tail(spark):
    from satellitetools_spark.operators import text as TX
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([("d1", words), ("d2", "solo")],
                               "doc_id string, text string")
    out = {(r["doc_id"], r["chunk_idx"]): r for r in
           TX.chunk_documents(df, window=4, overlap=1).collect()}
    # stride 3 over 10 tokens: starts 0,3,6,9
    assert {(k[1]) for k in out if k[0] == "d1"} == {0, 1, 2, 3}
    assert out[("d1", 0)]["chunk_text"] == "w0 w1 w2 w3"
    assert out[("d1", 1)]["chunk_text"] == "w3 w4 w5 w6"   # 1-token overlap
    assert out[("d1", 3)]["chunk_text"] == "w9"            # natural tail
    assert out[("d1", 3)]["n_tokens"] == 1
    assert out[("d2", 0)]["chunk_text"] == "solo"


def test_chunk_documents_rejects_bad_overlap(spark):
    from satellitetools_spark.operators import text as TX
    df = spark.createDataFrame([("d", "a b")], "doc_id string, text string")
    with pytest.raises(ValueError):
        TX.chunk_documents(df, window=4, overlap=4)


def test_acf_alternating_series_lag_structure(spark):
    # +1,-1,+1,... : acf_1 = -1 (lag-1 n-1 pairs all opposite),
    # acf_2 = +(n-2)/n-ish under the standard estimator
    rows = [("u", float(t), 1.0 if t % 2 == 0 else -1.0)
            for t in range(10)]
    df = spark.createDataFrame(rows, "user_id string, ts double, v double")
    out = TP.acf(df, key_cols=("user_id",), time_col="ts",
                 value_col="v", max_lag=2).collect()[0]
    assert out["n_obs"] == 10
    # mean = 0, den = 10; num_1 = -9, num_2 = +8
    assert out["acf_1"] == pytest.approx(-0.9)
    assert out["acf_2"] == pytest.approx(0.8)


def test_acf_constant_series_is_null(spark):
    rows = [("u", float(t), 5.0) for t in range(6)]
    df = spark.createDataFrame(rows, "user_id string, ts double, v double")
    out = TP.acf(df, key_cols=("user_id",), time_col="ts",
                 value_col="v", max_lag=1).collect()[0]
    assert out["acf_1"] is None   # zero variance -> NULL, not NaN


def test_mixture_weights_flattens_toward_tail(spark):
    from satellitetools_spark.operators import sampling as SA
    # 90/10 split at alpha=0.5: q_i ~ sqrt(p_i); the tail group's boost
    # must exceed 1 and the head's fall below 1; shares sum to 1
    rows = [("en", 100)] * 90 + [("fi", 100)] * 10
    df = spark.createDataFrame(rows, "lang string, n_chars int")
    out = {r["lang"]: r for r in SA.mixture_weights(
        df, alpha=0.5).collect()}
    p_en, p_fi = 0.9, 0.1
    z = math.sqrt(p_en) + math.sqrt(p_fi)
    assert out["en"]["p_natural"] == pytest.approx(0.9)
    assert out["en"]["p_smoothed"] == pytest.approx(math.sqrt(p_en) / z,
                                                    abs=1e-6)
    assert out["fi"]["p_smoothed"] == pytest.approx(math.sqrt(p_fi) / z,
                                                    abs=1e-6)
    assert out["fi"]["boost"] > 1.0 > out["en"]["boost"]
    assert (out["en"]["p_smoothed"] + out["fi"]["p_smoothed"]
            == pytest.approx(1.0, abs=2e-6))


def test_mixture_weights_alpha_one_is_identity(spark):
    from satellitetools_spark.operators import sampling as SA
    rows = [("a", 10)] * 3 + [("b", 10)] * 7
    df = spark.createDataFrame(rows, "lang string, n_chars int")
    out = {r["lang"]: r for r in SA.mixture_weights(
        df, alpha=1.0).collect()}
    for k in ("a", "b"):
        assert out[k]["p_smoothed"] == pytest.approx(
            out[k]["p_natural"], abs=1e-6)
        assert out[k]["boost"] == pytest.approx(1.0, abs=1e-6)


def test_flow_accumulation_tilted_plane(spark):
    # v decreasing with x: each row drains east in a chain, so
    # accumulation grows 1,2,3,4 along the row (per-row independent)
    cells = [(x, y, 100.0 - 10.0 * x) for x in range(4) for y in range(4)]
    out = {(r["ix"], r["iy"]): r["n_upstream_plus_self"]
           for r in SP.flow_accumulation(_dem(spark, cells)).collect()}
    assert len(out) == 16
    for y in range(4):
        for x in range(4):
            assert out[(x, y)] == x + 1, (x, y)


def test_flow_accumulation_bowl_collects_everything(spark):
    # single pit in a 3x3 bowl: all 8 ring cells drain into it directly
    cells = [(x, y, 0.0 if (x, y) == (1, 1) else 10.0)
             for x in range(3) for y in range(3)]
    out = {(r["ix"], r["iy"]): r["n_upstream_plus_self"]
           for r in SP.flow_accumulation(_dem(spark, cells)).collect()}
    assert out[(1, 1)] == 9
    for cell, acc in out.items():
        if cell != (1, 1):
            assert acc == 1


def test_wetness_index_tilted_plane(spark):
    # uniform 45-degree plane (10 m drop per 10 m cell): tan(beta) = 1,
    # so TWI = ln(acc * 10). Interior cells only (Horn support).
    cells = [(x, y, 100.0 - 10.0 * x) for x in range(5) for y in range(5)]
    out = {(r["ix"], r["iy"]): r
           for r in SP.wetness_index(_dem(spark, cells), cell_m=10.0)
           .collect()}
    assert set(out) == {(x, y) for x in range(1, 4) for y in range(1, 4)}
    for (x, y), r in out.items():
        assert r["slope_deg"] == pytest.approx(45.0, abs=1e-4)
        assert r["twi"] == pytest.approx(math.log((x + 1) * 10.0),
                                         abs=1e-5), (x, y)


def test_wetness_index_flat_ground_is_null(spark):
    cells = [(x, y, 7.0) for x in range(3) for y in range(3)]
    out = SP.wetness_index(_dem(spark, cells), cell_m=10.0).collect()
    assert len(out) == 1                  # only the interior cell
    assert out[0]["twi"] is None          # tan(0) guarded to NULL
    assert out[0]["slope_deg"] == pytest.approx(0.0)


def test_lisa_quadrants_split_plain_and_outliers(spark):
    # left half high, right half low: deep cells cluster (HH / LL, both
    # with POSITIVE local I); every seam cell stays on its own side's
    # cluster (the 8-neighbor mean never crosses the global mean there)
    cells = [(x, y, 10.0 if x < 3 else 0.0)
             for x in range(6) for y in range(6)]
    out = {(r["ix"], r["iy"]): r
           for r in SP.local_morans_i(SP.dem_pixels(_dem(spark, cells)))
           .collect()}
    assert out[(0, 2)]["quadrant"] == "HH"
    assert out[(0, 2)]["local_i"] > 0
    assert out[(5, 2)]["quadrant"] == "LL"
    assert out[(5, 2)]["local_i"] > 0      # LL is still positive I
    assert out[(3, 2)]["quadrant"] == "LL"
    # a single dip inside a high plain: the dip is a LOW-in-HIGH (LH)
    # outlier, its neighbors HIGH-next-to-low (HL), both negative I
    dip = [(x, y, 0.0 if (x, y) == (2, 2) else 10.0)
           for x in range(5) for y in range(5)]
    o2 = {(r["ix"], r["iy"]): r
          for r in SP.local_morans_i(SP.dem_pixels(_dem(spark, dip)))
          .collect()}
    assert o2[(2, 2)]["quadrant"] == "LH"
    assert o2[(2, 2)]["local_i"] < 0
    assert o2[(1, 1)]["quadrant"] == "HL"
    assert o2[(1, 1)]["local_i"] < 0


def test_lisa_isolated_cell(spark):
    cells = [(0, 0, 5.0), (10, 10, 1.0)]   # no queen adjacency
    out = SP.local_morans_i(SP.dem_pixels(_dem(spark, cells))).collect()
    for r in out:
        assert r["quadrant"] == "isolated"
        assert r["local_i"] is None
        assert r["n_links"] == 0


def test_contour_ring_around_single_peak(spark):
    # lone peak (10) at node (1,1) in a 3x3 grid of zeros, iso-level 5:
    # each of the 4 blocks cuts one segment; together a closed diamond
    # with vertices at the 0.5-interpolated edge midpoints
    cells = [(x, y, 10.0 if (x, y) == (1, 1) else 0.0)
             for x in range(3) for y in range(3)]
    segs = SP.contour_segments(_dem(spark, cells), threshold=5.0).collect()
    assert len(segs) == 4
    pts = set()
    for r in segs:
        pts.add((r["x1"], r["y1"]))
        pts.add((r["x2"], r["y2"]))
    assert pts == {(0.5, 1.0), (1.0, 0.5), (1.5, 1.0), (1.0, 1.5)}
    # every diamond vertex is shared by exactly two segments (closed ring)
    from collections import Counter
    deg = Counter()
    for r in segs:
        deg[(r["x1"], r["y1"])] += 1
        deg[(r["x2"], r["y2"])] += 1
    assert all(v == 2 for v in deg.values())


def test_contour_interpolation_is_linear(spark):
    # ramp 0,15 across one block edge with T=5: crossing at 1/3
    cells = [(0, 0, 0.0), (1, 0, 15.0), (0, 1, 0.0), (1, 1, 15.0)]
    segs = SP.contour_segments(_dem(spark, cells), threshold=5.0).collect()
    assert len(segs) == 1
    r = segs[0]
    # vertical iso-line at x = 1/3 crossing bottom and top edges
    assert sorted([(r["x1"], r["y1"]), (r["x2"], r["y2"])]) == [
        (pytest.approx(1.0 / 3.0, abs=1e-6), 0.0),
        (pytest.approx(1.0 / 3.0, abs=1e-6), 1.0)]


def test_contour_flat_raster_is_empty(spark):
    cells = [(x, y, 1.0) for x in range(3) for y in range(3)]
    assert SP.contour_segments(_dem(spark, cells),
                               threshold=5.0).count() == 0


def test_interarrival_periodic_vs_bursty(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # perfectly periodic user: gaps all 60 s -> std 0, B = -1
    for i in range(10):
        rows.append(("periodic", t0 + dt.timedelta(seconds=60 * i)))
    # bursty user: 9 gaps of 1 s, one gap of 991 s
    ts = 0
    for i in range(11):
        rows.append(("bursty", t0 + dt.timedelta(seconds=ts)))
        ts += 1 if i != 4 else 991
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {r["user_id"]: r for r in TP.interarrival_stats(
        df).collect()}
    p = out["periodic"]
    assert p["n_gaps"] == 9
    assert p["mean_gap_s"] == pytest.approx(60.0)
    assert p["std_gap_s"] == pytest.approx(0.0, abs=1e-6)
    assert p["burstiness"] == pytest.approx(-1.0, abs=1e-6)
    b = out["bursty"]
    assert b["n_gaps"] == 10
    assert b["cv"] > 2.0
    # gaps 9x1s + 991s: mu=100, sigma~297 -> B = 197/397 ~ 0.496
    assert b["burstiness"] == pytest.approx(0.496222, abs=1e-4)


def test_interarrival_single_event_user_drops(spark):
    import datetime as dt
    df = spark.createDataFrame(
        [("solo", dt.datetime(2024, 1, 1))], "user_id string, ts timestamp")
    assert TP.interarrival_stats(df).count() == 0


def test_event_entropy_uniform_and_monoculture(spark):
    rows = ([("uni", t) for t in ("a", "b", "c", "d")] * 5
            + [("mono", "a")] * 8
            + [("skew", "a")] * 9 + [("skew", "b")])
    df = spark.createDataFrame(rows, "user_id string, event_type string")
    out = {r["user_id"]: r for r in TP.event_entropy(
        df).collect()}
    assert out["uni"]["entropy_nats"] == pytest.approx(math.log(4),
                                                       abs=1e-6)
    assert out["uni"]["top_share"] == pytest.approx(0.25)
    assert out["mono"]["entropy_nats"] == pytest.approx(0.0, abs=1e-9)
    assert out["mono"]["n_types"] == 1
    assert out["mono"]["top_share"] == pytest.approx(1.0)
    h = -(0.9 * math.log(0.9) + 0.1 * math.log(0.1))
    assert out["skew"]["entropy_nats"] == pytest.approx(h, abs=1e-6)
    assert out["skew"]["top_share"] == pytest.approx(0.9)
