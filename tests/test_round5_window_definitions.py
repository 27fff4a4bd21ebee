"""Definition-level cross-checks, batch 6 — thin spots in the ROUND-5
driver window: the A/B z-test, behavioral entropy, event trigrams,
Hirsch-Slack seasonal Mann-Kendall, the directional semivariogram,
percentile stretch, Savitzky–Golay smoothing (re-derived as a local
least-squares polynomial fit, NOT the engine's coefficient table), and
polygon shoelace metrics. Plain-Python/NumPy mirrors over the real
sf0.001 tables."""

import datetime as dt
import json
import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
GEO = "/root/repo/.geodata/sf0.001"


def _r(x, nd=6):
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def _events(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(SF, "events.parquet"))


def test_ab_ztest_matches_direct_two_proportion(spark):
    from satellitetools_spark.operators import checks as CHK
    g = CHK.ab_ztest(_events(spark)).collect()[0]
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, event_type FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    conv = {}
    for u, et in rows:
        conv[u] = conv.get(u, 0) or int(et == "purchase")
    n = {0: 0, 1: 0}
    x = {0: 0, 1: 0}
    for u, c in conv.items():
        a = u % 2
        n[a] += 1
        x[a] += c
    p0, p1 = x[0] / n[0], x[1] / n[1]
    pp = (x[0] + x[1]) / (n[0] + n[1])
    se = math.sqrt(pp * (1 - pp) * (1 / n[0] + 1 / n[1]))
    assert (g["n0"], g["x0"], g["n1"], g["x1"]) == \
        (n[0], x[0], n[1], x[1])
    assert abs(g["p0"] - p0) <= 1e-6
    assert abs(g["p1"] - p1) <= 1e-6
    assert abs(g["lift"] - (p1 - p0)) <= 1e-6
    if se == 0:
        # degenerate pooled rate (every unit converted at sf0.001) —
        # the operator must emit NULL z, not a division artifact
        assert g["z"] is None
    else:
        assert abs(g["z"] - (p1 - p0) / se) <= 1e-5


def test_event_entropy_matches_direct_shannon(spark):
    from satellitetools_spark.operators.temporal import event_entropy
    ev = _events(spark).select("user_id", "event_type")
    got = {r["user_id"]: r for r in event_entropy(
        ev).collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, event_type FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for u, et in rows:
        per.setdefault(u, {})
        per[u][et] = per[u].get(et, 0) + 1
    for u, cnts in per.items():
        n = sum(cnts.values())
        # DEFINITION: H = -sum p ln p (not the operator's algebraic
        # one-pass rearrangement)
        h = -sum((c / n) * math.log(c / n) for c in cnts.values())
        g = got[u]
        assert (g["n_events"], g["n_types"]) == (n, len(cnts))
        assert abs(g["entropy_nats"] - h) <= 1e-6
        assert abs(g["top_share"] - max(cnts.values()) / n) <= 1e-6


def test_event_trigrams_match_direct_sequence_count(spark):
    from satellitetools_spark.operators.temporal import event_trigrams
    ev = _events(spark).select("user_id", "event_type", "ts")
    got = [(r["trigram"], r["n"], r["rank"])
           for r in event_trigrams(ev).collect()]
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), event_type FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for u, us, et in rows:
        per.setdefault(u, []).append((us, et))
    counts = {}
    for lst in per.values():
        lst.sort()
        ets = [e for _, e in lst]
        for i in range(2, len(ets)):
            t = f"{ets[i - 2]}>{ets[i - 1]}>{ets[i]}"
            counts[t] = counts.get(t, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == [(t, c, i + 1) for i, (t, c) in enumerate(want)]


def test_seasonal_mann_kendall_matches_direct_pair_fold(spark):
    from satellitetools_spark.operators.temporal import \
        seasonal_mann_kendall
    ev = _events(spark).select("user_id", "ts", "value")
    got = {r["user_id"]: r for r in seasonal_mann_kendall(
        ev,
        season_expr="pmod(datediff(CAST(ts AS DATE),"
                    " DATE '1970-01-01'), 7)").collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT user_id, CAST(ts AS DATE), epoch(ts), value FROM "
        f"'{os.path.join(SF, 'events.parquet')}'").fetchall()
    per = {}
    for u, day, t, v in rows:
        season = (day - dt.date(1970, 1, 1)).days % 7
        per.setdefault(u, {}).setdefault(season, []).append(
            (float(t), float(v)))
    for u, seasons in per.items():
        s_raw = 0
        slopes = []
        var_s = 0.0
        n_obs = 0
        for pts in seasons.values():
            n_obs += len(pts)
            for i in range(len(pts)):
                for j in range(len(pts)):
                    ta, va = pts[i]
                    tb, vb = pts[j]
                    if ta < tb:
                        s_raw += int(np.sign(vb - va))
                        slopes.append((vb - va) / ((tb - ta) / 86400.0))
            n = float(len(pts))
            ties = {}
            for _, v in pts:
                ties[v] = ties.get(v, 0) + 1
            tie_sum = sum(c * (c - 1.0) * (2.0 * c + 5.0)
                          for c in ties.values())
            var_s += (n * (n - 1.0) * (2.0 * n + 5.0) - tie_sum) / 18.0
        g = got[u]
        assert (g["n_obs"], g["n_seasons"], g["s_stat"]) == \
            (n_obs, len(seasons), s_raw)
        assert abs(g["var_s"] - var_s) <= 1e-5
        if var_s > 0:
            z = ((s_raw - 1.0) / math.sqrt(var_s) if s_raw > 0
                 else (s_raw + 1.0) / math.sqrt(var_s) if s_raw < 0
                 else 0.0)
            assert abs(g["smk_z"] - z) <= 1e-5
        sen = float(np.median(np.array(slopes)))
        assert abs(g["sen_slope"] - sen) <= 1e-5


def test_variogram_directional_matches_direct_pair_sums(spark):
    from satellitetools_spark.operators import spatial as SP
    dem = spark.read.parquet(os.path.join(GEO, "dem.parquet"))
    got = {(r["direction"], r["d2"]): (r["lag"], r["n_pairs"],
                                       r["gamma"])
           for r in SP.variogram_directional(dem).collect()}
    rows = dem.collect()
    grid = {}
    for r in rows:
        ix = int(r["cell"]) % 2 ** 32
        iy = int(r["cell"]) // 2 ** 32
        grid[(ix, iy)] = float(r["elevation"])
    rmax = int(math.isqrt(8)) + 1
    offs = [(dx, dy) for dx in range(-rmax, rmax + 1)
            for dy in range(-rmax, rmax + 1)
            if (dx > 0 or (dx == 0 and dy > 0))
            and 0 < dx * dx + dy * dy <= 8]
    agg = {}
    for (ix, iy), v in grid.items():
        for dx, dy in offs:
            nb = grid.get((ix + dx, iy + dy))
            if nb is None:
                continue
            d = "EW" if dy == 0 else "NS" if dx == 0 else \
                ("NE" if dx * dy > 0 else "NW")
            key = (d, dx * dx + dy * dy)
            n, s = agg.get(key, (0, 0.0))
            agg[key] = (n + 1, s + (nb - v) * (nb - v))
    want = {k: (_r(math.sqrt(k[1])), n, _r(s / (2.0 * n)))
            for k, (n, s) in agg.items()}
    assert got == want
    assert len(want) >= 6


def test_percentile_stretch_matches_direct_rank_formula(spark):
    from satellitetools_spark.operators import spatial as SP
    px = (spark.read.parquet(os.path.join(GEO,
                                          "oracle_pixels.parquet"))
          .filter("inside")
          .select("doc_id", "x", "y", F.col("B8").alias("v")))
    got = {(r["doc_id"], r["x"], r["y"]):
           (r["v"], r["pct_rank"], r["stretched"])
           for r in SP.percentile_stretch(
               px).collect()}
    rows = px.collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], []).append(
            (r["x"], r["y"], r["v"]))
    want = {}
    for d, pts in per.items():
        nonnull = sorted(v for _, _, v in pts if v is not None)
        n = len(pts)
        lo = nonnull[0] if nonnull else None
        hi = nonnull[-1] if nonnull else None
        for x, y, v in pts:
            if v is None:
                # nulls sort LAST: all null rows tie at rank
                # n_nonnull + 1 (RANK semantics)
                rk = len(nonnull) + 1
                pr = 0.0 if n == 1 else (rk - 1) / (n - 1)
                want[(d, x, y)] = (None, _r(pr), None)
            else:
                rk = 1 + sum(1 for w in nonnull if w < v)
                pr = 0.0 if n == 1 else (rk - 1) / (n - 1)
                st = (None if hi == lo
                      else _r((v - lo) / (hi - lo)))
                want[(d, x, y)] = (_r(v), _r(pr), st)
    assert set(got) == set(want)
    for k in want:
        gv, gp, gs = got[k]
        wv, wp, ws = want[k]
        assert (gv is None) == (wv is None)
        if gv is not None:
            assert abs(gv - wv) <= 1e-6
        assert abs(gp - wp) <= 1e-6
        assert (gs is None) == (ws is None)
        if gs is not None:
            assert abs(gs - ws) <= 1e-6


def test_sg_smooth_matches_local_polyfit_definition(spark):
    # Savitzky-Golay BY DEFINITION: the smoothed center equals the
    # value at 0 of the order-2 least-squares polynomial fit to the
    # 5 neighbors — re-derived with numpy polyfit per position, never
    # the engine's closed-form coefficient table.
    from satellitetools_spark.datagen import ensure_geodata
    from satellitetools_spark.operators.temporal import sg_smooth
    # sf0.001 has only 4 dates — no complete 5-tap interior — so this
    # check runs on the 10-date sf0.01 series.
    d01 = ensure_geodata("sf0.01")
    px = (spark.read.parquet(os.path.join(d01,
                                          "oracle_pixels.parquet"))
          .filter("inside")
          .select("aoi",
                  F.date_format("acquisition_time", "yyyy-MM-dd")
                  .alias("date_str"),
                  ((F.col("B8A") - F.col("B4"))
                   / (F.col("B8A") + F.col("B4"))).alias("v")))
    series = (px.groupBy("aoi", "date_str")
              .agg(F.round(F.sum("v") / F.count("v"), 6)
                   .alias("mean_ndvi")))
    out = sg_smooth(series,
                    value_col="mean_ndvi", out_col="sm")
    got = {(r["aoi"], r["date_str"]): r["sm"] for r in out.collect()}
    rows = series.collect()
    per = {}
    for r in rows:
        per.setdefault(r["aoi"], []).append(
            (r["date_str"], r["mean_ndvi"]))
    checked = 0
    for aoi, pts in per.items():
        pts.sort()
        ys = [v for _, v in pts]
        for i, (d, _) in enumerate(pts):
            if i < 2 or i >= len(ys) - 2:
                assert got[(aoi, d)] is None
                continue
            window = ys[i - 2:i + 3]
            if any(v is None for v in window):
                # a null mean-NDVI date (all-nodata scene) nulls every
                # tap dot product it participates in
                assert got[(aoi, d)] is None
                continue
            coef = np.polyfit(np.arange(-2, 3),
                              np.array(window, dtype=float), 2)
            sm = float(np.polyval(coef, 0.0))
            assert abs(got[(aoi, d)] - sm) <= 2e-6
            checked += 1
    assert checked > 0


def test_polygon_metrics_match_direct_shoelace(spark):
    import __spark_entry__ as E
    from satellitetools_spark.operators import spatial as SP
    from satellitetools_spark.sources.docs import doc_dimension
    docs = E._geo_docs(spark, SF)
    dim = doc_dimension(docs).select("aoi", "aoi_geometry")
    aois = (dim.groupBy("aoi")
            .agg(F.min("aoi_geometry").alias("aoi_geometry")))
    got = {r["aoi"]: r for r in SP.polygon_metrics(aois).collect()}
    for r in aois.collect():
        geom = json.loads(r["aoi_geometry"])
        coords = geom["coordinates"]
        ring = coords[0][0]
        cross = [ring[i][0] * ring[i + 1][1]
                 - ring[i + 1][0] * ring[i][1]
                 for i in range(len(ring) - 1)]
        signed2 = sum(cross)
        per = sum(math.hypot(ring[i + 1][0] - ring[i][0],
                             ring[i + 1][1] - ring[i][1])
                  for i in range(len(ring) - 1))
        cx = sum((ring[i][0] + ring[i + 1][0]) * cross[i]
                 for i in range(len(ring) - 1)) / (3 * signed2)
        cy = sum((ring[i][1] + ring[i + 1][1]) * cross[i]
                 for i in range(len(ring) - 1)) / (3 * signed2)
        g = got[r["aoi"]]
        assert g["n_polys"] == len(coords)
        assert g["n_rings"] == len(coords[0])
        assert g["n_vertices"] == len(ring) - 1
        assert abs(g["area"] - abs(signed2) / 2) <= 1e-9
        assert abs(g["perimeter"] - per) <= 1e-6
        assert abs(g["centroid_x"] - cx) <= 1e-6
        assert abs(g["centroid_y"] - cy) <= 1e-6
