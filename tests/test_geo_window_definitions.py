"""Definition-level cross-checks, batch 5 — the GEO raster/vector
family of the round-6 driver window plus ABC classification: circular
statistics, hex binning with cube rounding, bitemporal change, patch
metrics over union-find connected components, the sieve filter,
lattice cross-correlation, two-scale TPI landforms — each re-derived
in plain Python/NumPy from the same sf0.001 pixel frames the engine
reads, sharing no Spark expressions."""

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


def test_circular_stats_match_direct_trig_sums(spark):
    from satellitetools_spark.operators import checks as CHK
    scenes = spark.read.parquet(os.path.join(GEO, "scenes.parquet"))
    det = scenes.select(
        "doc_id", F.explode("view_azimuth_detectors").alias("az"))
    got = {r["doc_id"]: r for r in CHK.circular_stats(
        det, "az").collect()}
    rows = scenes.select("doc_id", "view_azimuth_detectors").collect()
    for r in rows:
        azs = r["view_azimuth_detectors"]
        c = sum(math.cos(math.radians(a)) for a in azs)
        s = sum(math.sin(math.radians(a)) for a in azs)
        n = len(azs)
        rbar = math.sqrt((c / n) ** 2 + (s / n) ** 2)
        mean_dir = (math.degrees(math.atan2(s, c)) + 360.0) % 360.0
        g = got[r["doc_id"]]
        assert g["n_obs"] == n
        assert abs(g["mean_dir_deg"] - mean_dir) <= 1e-5
        assert abs(g["resultant_len"] - rbar) <= 1e-6
        assert abs(g["circ_var"] - (1.0 - rbar)) <= 1e-6


def _inside_px(spark):
    # nodata pixels (null bands) are filtered here: these DEFINITION
    # checks compare the operators' algebra on clean input; the
    # null-propagation semantics are covered by the construction
    # oracle (which runs the unfiltered gate queries).
    scenes = (spark.read.parquet(os.path.join(GEO, "scenes.parquet"))
              .select("doc_id", F.col("target_gsd").alias("gsd")))
    return (spark.read.parquet(
        os.path.join(GEO, "oracle_pixels.parquet"))
        .filter("inside")
        .join(F.broadcast(scenes), "doc_id")
        .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                    / (F.col("B8") + F.col("B4")))
        .filter("ndvi IS NOT NULL"))


def test_hexbin_matches_direct_cube_rounding(spark):
    from satellitetools_spark.operators import spatial as SP
    from satellitetools_spark.operators.spatial import (_HEX_QX,
                                                        _HEX_QY,
                                                        _HEX_RY,
                                                        _SQRT3)
    px = _inside_px(spark)
    s = 40.0
    got = {(r["doc_id"], r["hq"], r["hr"]):
           (r["n_points"], r["mean_val"], r["cx"], r["cy"])
           for r in SP.hexbin(px, "ndvi", size_m=s).collect()}
    rows = px.select("doc_id", "x", "y", "ndvi").collect()
    agg = {}
    for r in rows:
        qf = (_HEX_QX * r["x"] + _HEX_QY * r["y"]) / s
        rf = (_HEX_RY * r["y"]) / s
        xf, zf, yf = qf, rf, -qf - rf
        rx, ry, rz = _r(xf, 0), _r(yf, 0), _r(zf, 0)
        dx, dy, dz = abs(rx - xf), abs(ry - yf), abs(rz - zf)
        if dx > dy and dx > dz:
            hq = -ry - rz
        else:
            hq = rx
        if not (dx > dy and dx > dz) and dz > dy:
            hr = -rx - ry
        else:
            hr = rz
        key = (r["doc_id"], int(hq), int(hr))
        n, tot = agg.get(key, (0, 0.0))
        agg[key] = (n + 1, tot + r["ndvi"])
    want = {k: (n, _r(tot / n),
                _r(s * _SQRT3 * (k[1] + k[2] / 2.0)),
                _r(s * 1.5 * k[2]))
            for k, (n, tot) in agg.items()}
    assert got == want


def test_change_detection_matches_direct_first_last(spark):
    from satellitetools_spark.operators import spatial as SP
    px = (_inside_px(spark)
          .select("aoi", "x", "y", "gsd",
                  F.col("acquisition_time").alias("t"),
                  F.col("ndvi").alias("v")))
    got = {(r["aoi"], r["ix"], r["iy"]):
           (r["n_obs"], r["v_first"], r["v_last"], r["delta"],
            r["change"])
           for r in SP.change_detection(px).collect()}
    rows = px.collect()
    per = {}
    for r in rows:
        key = (r["aoi"], math.floor(r["x"] / r["gsd"]),
               math.floor(r["y"] / r["gsd"]))
        per.setdefault(key, []).append((r["t"], r["v"]))
    want = {}
    for key, obs in per.items():
        first = min(obs)[1]
        last = max(obs)[1]
        delta = last - first
        cls = ("gain" if delta > 0.05
               else "loss" if delta < -0.05 else "stable")
        want[key] = (len(obs), _r(first), _r(last), _r(delta), cls)
    assert set(want) == set(got)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])
    assert any(v[4] != "stable" for v in want.values())


def _high_cells(spark):
    px = _inside_px(spark).filter("ndvi > 0.6")
    return {(r["doc_id"], int(r["x"] // 20.0), int(r["y"] // 20.0))
            for r in px.select("doc_id", "x", "y").collect()}


def _components(cells):
    """Union-find 4-connected components per doc; label = min cell id
    (iy * 2^32 + ix) in the component — the operator's contract."""
    parent = {c: c for c in cells}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for (d, ix, iy) in cells:
        for nb in ((d, ix + 1, iy), (d, ix, iy + 1)):
            if nb in cells:
                union((d, ix, iy), nb)
    comp = {}
    for c in cells:
        comp.setdefault(find(c), []).append(c)
    lab = {}
    for members in comp.values():
        label = min(iy * 2 ** 32 + ix for _, ix, iy in members)
        for c in members:
            lab[c] = label
    return lab


def test_patch_stats_match_union_find_metrics(spark):
    from satellitetools_spark.operators import spatial as SP
    cells_df = spark.createDataFrame(
        sorted(_high_cells(spark)), "doc_id string, ix long, iy long")
    lab = SP.region_label(cells_df)
    got = {r["doc_id"]: r
           for r in SP.patch_stats(lab).collect()}
    cells = _high_cells(spark)
    labels = _components(cells)
    docs = {d for d, _, _ in cells}
    assert docs  # non-vacuous
    for d in docs:
        mine = {(ix, iy): labels[(d, ix, iy)]
                for (dd, ix, iy) in cells if dd == d}
        sizes = {}
        for l in mine.values():
            sizes[l] = sizes.get(l, 0) + 1
        total = sum(sizes.values())
        adj = 0  # ordered same-label 4-adjacencies
        for (ix, iy), l in mine.items():
            for nb in ((ix + 1, iy), (ix - 1, iy),
                       (ix, iy + 1), (ix, iy - 1)):
                if mine.get(nb) == l:
                    adj += 1
        perim = 4 * total - adj
        g = got[d]
        assert g["n_patches"] == len(sizes)
        assert g["total_cells"] == total
        assert g["max_patch"] == max(sizes.values())
        assert abs(g["mean_patch"] - total / len(sizes)) <= 1e-6
        assert abs(g["lpi"] - max(sizes.values()) / total) <= 1e-6
        assert g["perimeter"] == perim
        assert abs(g["edge_density"] - perim / total) <= 1e-6


def test_sieve_filter_matches_union_find_size_cut(spark):
    from satellitetools_spark.operators import spatial as SP
    cells_df = spark.createDataFrame(
        sorted(_high_cells(spark)), "doc_id string, ix long, iy long")
    got = {(r["doc_id"], r["ix"], r["iy"], r["label"])
           for r in SP.sieve_filter(cells_df).collect()}
    cells = _high_cells(spark)
    labels = _components(cells)
    sizes = {}
    for c, l in labels.items():
        sizes[(c[0], l)] = sizes.get((c[0], l), 0) + 1
    want = {(d, ix, iy, labels[(d, ix, iy)])
            for (d, ix, iy) in cells
            if sizes[(d, labels[(d, ix, iy)])] >= 4}
    assert want and want != {
        (d, ix, iy, labels[(d, ix, iy)]) for d, ix, iy in cells}
    assert got == want


def _extreme_raster(spark, which):
    px = (_inside_px(spark)
          .select("aoi",
                  F.floor(F.col("x") / F.col("gsd")).cast("long")
                  .alias("ix"),
                  F.floor(F.col("y") / F.col("gsd")).cast("long")
                  .alias("iy"),
                  F.col("acquisition_time").alias("t"),
                  F.col("ndvi").alias("v")))
    fn = F.min if which == "first" else F.max
    ext = px.groupBy("aoi").agg(fn("t").alias("_te"))
    return (px.join(F.broadcast(ext), "aoi")
            .filter(F.col("t") == F.col("_te"))
            .select("aoi", "ix", "iy", "v"))


def test_raster_xcorr_matches_direct_offset_pearson(spark):
    from satellitetools_spark.operators import spatial as SP
    a_df = _extreme_raster(spark, "first")
    b_df = _extreme_raster(spark, "last")
    got = {r["aoi"]: (r["best_dx"], r["best_dy"], r["n_overlap"],
                      r["corr"])
           for r in SP.raster_xcorr(a_df, b_df,
                                    max_offset=2,
                                    min_overlap=16).collect()}
    a_rows = a_df.collect()
    b_rows = b_df.collect()
    aois = {r["aoi"] for r in a_rows}
    for aoi in aois:
        av = {}
        for r in a_rows:
            if r["aoi"] == aoi:
                av.setdefault((r["ix"], r["iy"]), []).append(r["v"])
        bv = {}
        for r in b_rows:
            if r["aoi"] == aoi:
                bv.setdefault((r["ix"], r["iy"]), []).append(r["v"])
        best = None
        for dx in range(-2, 3):
            for dy in range(-2, 3):
                pairs = []
                for (ix, iy), vals in av.items():
                    tgt = bv.get((ix + dx, iy + dy))
                    if tgt:
                        for x in vals:
                            for y in tgt:
                                pairs.append((x, y))
                if len(pairs) < 16:
                    continue
                x = np.array([p[0] for p in pairs])
                y = np.array([p[1] for p in pairs])
                va, vb_ = x.var(), y.var()
                if va <= 0 or vb_ <= 0:
                    continue
                corr = _r(float(np.corrcoef(x, y)[0, 1]))
                key = (-corr, dx, dy)
                if best is None or key < best[0]:
                    best = (key, dx, dy, len(pairs), corr)
        if best is None:
            # every offset under min_overlap -> the operator must drop
            # the key entirely (qvidja_ec's first raster is 4 cells)
            assert aoi not in got
            continue
        g = got[aoi]
        assert (g[0], g[1], g[2]) == (best[1], best[2], best[3])
        assert abs(g[3] - best[4]) <= 2e-6
    assert got  # at least one key survived (multipolygon)


def test_tpi_landform_matches_numpy_windows(spark):
    # sf0.001 rasters are too small for a complete 7x7 stencil (the
    # r_large=3 interior is empty there — a vacuous compare), so this
    # check runs on the sf0.01 surface where real interiors exist.
    from satellitetools_spark.datagen import ensure_geodata
    from satellitetools_spark.operators import spatial as SP
    d01 = ensure_geodata("sf0.01")
    scenes = (spark.read.parquet(os.path.join(d01, "scenes.parquet"))
              .select("doc_id", F.col("target_gsd").alias("gsd")))
    px = (spark.read.parquet(os.path.join(d01,
                                          "oracle_pixels.parquet"))
          .filter("inside")
          .join(F.broadcast(scenes), "doc_id")
          .withColumn("ndvi", (F.col("B8") - F.col("B4"))
                      / (F.col("B8") + F.col("B4")))
          .filter("ndvi IS NOT NULL")
          .select("doc_id", "x", "y", "gsd",
                  F.col("ndvi").alias("v")))
    got = {(r["doc_id"], r["ix"], r["iy"]):
           (r["tpi_small"], r["tpi_large"], r["landform"])
           for r in SP.tpi_landform(px, r_large=3).collect()}
    rows = px.collect()
    per = {}
    for r in rows:
        per.setdefault(r["doc_id"], {})[
            (math.floor(r["x"] / r["gsd"]),
             math.floor(r["y"] / r["gsd"]))] = r["v"]
    want = {}
    for d, grid in per.items():
        tp = {}
        for (ix, iy), z in grid.items():
            ts_tl = []
            for rr in (1, 3):
                vals = [grid.get((ix + dx, iy + dy))
                        for dx in range(-rr, rr + 1)
                        for dy in range(-rr, rr + 1)]
                if any(v is None for v in vals):
                    ts_tl.append(None)
                else:
                    ts_tl.append(z - sum(vals) / len(vals))
            if ts_tl[0] is not None and ts_tl[1] is not None:
                tp[(ix, iy)] = tuple(ts_tl)
        if not tp:
            continue
        ts = np.array([v[0] for v in tp.values()])
        tl = np.array([v[1] for v in tp.values()])
        mus, sds = ts.mean(), ts.std()
        mul, sdl = tl.mean(), tl.std()
        for (ix, iy), (a, b) in tp.items():
            ss = (a - mus) / sds if sds > 0 else 0.0
            sl = (b - mul) / sdl if sdl > 0 else 0.0
            if ss <= -1 and sl <= -1:
                cls = "canyon"
            elif ss <= -1 and sl < 1:
                cls = "midslope_drainage"
            elif ss <= -1:
                cls = "upland_drainage"
            elif ss < 1 and sl <= -1:
                cls = "u_valley"
            elif ss < 1 and sl < 1:
                cls = "plain"
            elif ss < 1:
                cls = "upper_slope"
            elif sl <= -1:
                cls = "local_ridge"
            elif sl < 1:
                cls = "midslope_ridge"
            else:
                cls = "mountain_top"
            want[(d, ix, iy)] = (_r(a), _r(b), cls)
    assert set(got) == set(want)
    assert want
    for k in want:
        ga, gb, gc = got[k]
        wa, wb, wc = want[k]
        assert abs(ga - wa) <= 2e-6 and abs(gb - wb) <= 2e-6
        assert gc == wc, (k, got[k], want[k])


def test_abc_analysis_matches_direct_pareto_cut(spark):
    from satellitetools_spark.operators.segment import abc_analysis
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    got = {r["key"]: (r["rank"], r["revenue"], r["cum_share"],
                      r["abc_class"])
           for r in abc_analysis(li).collect()}
    import duckdb
    rows = duckdb.sql(
        f"SELECT l_partkey, l_extendedprice FROM "
        f"'{os.path.join(SF, 'lineitem.parquet')}'").fetchall()
    per = {}
    for k, v in rows:
        per[k] = per.get(k, Decimal(0)) + Decimal(repr(v)).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP)
    ordered = sorted(per.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(per.values())
    cum = Decimal(0)
    want = {}
    for i, (k, x) in enumerate(ordered, start=1):
        cum += x
        share = float(cum) / float(tot)
        cls = "A" if share <= 0.8 else "B" if share <= 0.95 else "C"
        want[k] = (i, _r(float(x), 4), _r(share), cls)
    assert got == want
    assert {c for _, _, _, c in got.values()} == {"A", "B", "C"}
