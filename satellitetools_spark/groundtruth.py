"""Ground-truth parquet for the non-SQL-expressible gate queries.

Seven queries() entries wrap operators whose core loop DuckDB SQL cannot
express (data-dependent merges, recursions, linear solves). Their gate
check was rows-only through round 3. This module upgrades them to full
value checks: for each query it re-computes the EXPECTED output with an
implementation deliberately independent of the engine operator —

=================  ============================  =========================
query              engine implementation         ground truth here
=================  ============================  =========================
geo_hull           Andrew monotone chain         Jarvis gift wrapping
geo_simplify       stack-based Douglas-Peucker   explicit recursion
geo_clip           Sutherland-Hodgman pandas UDF S-H re-derivation (plain)
geo_kriging        cell-cover join candidates    brute-force all-pairs kNN
docs_isotonic      PAV block-list pooling        minimax closed form
                                                 cal_i = max_j min_k mean
events_dtw         rolling two-row banded DP     full-matrix DP, band mask
docs_logistic      per-iteration SQL sufficient  dense NumPy matrix IRLS
                   statistics (X'WX via agg)
=================  ============================  =========================

— and writes it to ``.geodata/<tag>/expected/<name>.parquet``. The
oracle_sql() entry is then a plain ``read_parquet`` SELECT, so the
driver's DuckDB gate compares VALUES, not just row counts.

Inputs are the same fixtures the queries consume: the synthetic geodata
(oracle_pixels / scenes / dem, already brute-force ground truth — see
``datagen.py``) and the driver's testdata parquet (documents, events).
Everything is deterministic; a versioned marker invalidates the cache
when this module changes.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from satellitetools_spark.datagen import ensure_geodata, geodata_dir

# bump to invalidate previously generated expected/ directories
GT_VERSION = 1

GT_NAMES = ("geo_hull", "geo_simplify", "geo_clip", "geo_kriging",
            "docs_isotonic", "events_dtw", "docs_logistic")

# shared with __spark_entry__ (kept textually identical there; these are
# the DuckDB renderings used to pull model inputs)
SCORE_SQL = ("(((doc_id * 1103515245 + 12345) % 1000) / 1000.0 * 0.7"
             " + 0.3 * CAST(lang = 'en' AS INT))")
LABEL_SQL = "CAST(lang = 'en' AS INT)"


# ---------------------------------------------------------------------------
# geometry kernels (independent re-derivations)
# ---------------------------------------------------------------------------

def points_in_rings_winding(px, py, rings) -> np.ndarray:
    """Point-in-polygon by the WINDING NUMBER (Sunday's crossing
    rules) — written independently of the engine's even-odd
    ray-casting kernel (``geometry.points_in_rings``), as its
    cross-check. For the simple (non-self-intersecting) rings the
    fixtures use, nonzero-winding equals even-odd PER RING; rings are
    then combined by XOR, reproducing the engine's multi-ring hole
    semantics while sharing no code path with it. Points exactly on an
    edge may differ — the synthetic grids place pixel centers
    generically off edges by construction."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if (r[0] != r[-1]).any():
            r = np.vstack([r, r[:1]])
        wn = np.zeros(px.shape, dtype=np.int64)
        for i in range(len(r) - 1):
            ax, ay = r[i]
            bx, by = r[i + 1]
            is_left = ((bx - ax) * (py - ay) - (px - ax) * (by - ay))
            up = (ay <= py) & (by > py) & (is_left > 0)
            dn = (ay > py) & (by <= py) & (is_left < 0)
            wn += up.astype(np.int64) - dn.astype(np.int64)
        inside ^= wn != 0
    return inside

def sample_band_independent(band: str, productid: str,
                            xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Band value at target pixel centers, re-derived INDEPENDENTLY of
    the engine's raster kernels: no ``target_grid``, ``sample_grid``,
    ``assemble_window`` or chunk/window bookkeeping — just the
    analytic native-value spec (``native_band_dn`` / ``native_scl``,
    which IS the synthetic data definition) evaluated at the support
    pixel centers and combined with a plainly-written bilinear /
    nearest rule. Cross-checks every oracle band value against the
    shared decode/resample path (r3 verdict, "What's wrong" #3):

    - native pixel centers sit at ``(k + 0.5)·gsd``;
    - spectral bands: DN at the 2×2 support centers, nodata→NaN,
      reflectance = DN/10000, bilinear with (1−wx)(1−wy) weights —
      NaN in any support propagates;
    - SCL: nearest support center (np.rint half-to-even, same tie rule
      as the engine's ``sample_grid``).
    """
    from satellitetools_spark.rasterops import (DN_NODATA, S2_BAND_GSD,
                                                S2_REFL_TRANS,
                                                native_band_dn,
                                                native_scl)
    gsd = float(S2_BAND_GSD[band])
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    fx = xs / gsd - 0.5
    fy = ys / gsd - 0.5
    if band == "SCL":
        ix = np.rint(fx)
        iy = np.rint(fy)
        return native_scl(productid, (ix + 0.5) * gsd,
                          (iy + 0.5) * gsd).astype(np.float64)
    i0 = np.floor(fx)
    j0 = np.floor(fy)
    wx = fx - i0
    wy = fy - j0
    out = np.zeros(xs.shape, dtype=np.float64)
    for di, dj, w in ((0, 0, (1 - wx) * (1 - wy)),
                      (1, 0, wx * (1 - wy)),
                      (0, 1, (1 - wx) * wy),
                      (1, 1, wx * wy)):
        dn = native_band_dn(band, productid,
                            (i0 + di + 0.5) * gsd,
                            (j0 + dj + 0.5) * gsd)
        refl = np.where(dn == DN_NODATA, np.nan, dn / S2_REFL_TRANS)
        out = out + refl * w
    return out


def lonlat_to_utm_kruger(lon, lat, zone: int):
    """Forward transverse Mercator by the Karney/Krüger exact-series
    formulation (conformal latitude + 6 α terms, ~nm accuracy) —
    written independently of the engine's Snyder-series
    ``geometry.lonlat_to_utm`` as its cross-check: two unrelated
    series formulations agreeing to sub-mm over random inputs pins the
    CRS transform far harder than fixed known points."""
    a = 6378137.0
    f = 1.0 / 298.257223563
    k0, e0 = 0.9996, 500000.0
    n = f / (2.0 - f)
    n2, n3, n4, n5, n6 = n**2, n**3, n**4, n**5, n**6
    A = a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    alpha = [
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180
        - 127 * n5 / 288 + 7891 * n6 / 37800,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630
        - 1983433 * n6 / 1935360,
        61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880
        + 167603 * n6 / 181440,
        49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
        34729 * n5 / 80640 - 3418889 * n6 / 1995840,
        212378941 * n6 / 319334400,
    ]
    e = math.sqrt(f * (2 - f))
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam0 = math.radians((zone - 1) * 6 - 180 + 3)
    lam = np.radians(lon) - lam0
    phi = np.radians(lat)
    t = np.sinh(np.arcsinh(np.tan(phi))
                - e * np.arctanh(e * np.sin(phi)))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
    xs, es = xi.copy(), eta.copy()
    for j, aj in enumerate(alpha, start=1):
        xs = xs + aj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        es = es + aj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    return e0 + k0 * A * es, k0 * A * xs


def _jarvis_hull(pts: np.ndarray) -> np.ndarray:
    """Convex hull by gift wrapping over unique points; collinear
    points on hull edges are skipped (farthest-point rule), matching
    the minimal-vertex hull a strict-turn monotone chain emits."""
    n = len(pts)
    start = 0
    for i in range(1, n):
        if (pts[i, 1], pts[i, 0]) < (pts[start, 1], pts[start, 0]):
            start = i
    hull = [start]
    cur = start
    while True:
        cand = -1
        for j in range(n):
            if j == cur:
                continue
            if cand < 0:
                cand = j
                continue
            cx = ((pts[cand, 0] - pts[cur, 0])
                  * (pts[j, 1] - pts[cur, 1])
                  - (pts[cand, 1] - pts[cur, 1])
                  * (pts[j, 0] - pts[cur, 0]))
            if cx < 0:
                cand = j
            elif cx == 0:
                dj = ((pts[j] - pts[cur]) ** 2).sum()
                dc = ((pts[cand] - pts[cur]) ** 2).sum()
                if dj > dc:
                    cand = j
        cur = cand
        if cur == start:
            break
        hull.append(cur)
    return pts[hull]


def _ring_area_perimeter(h: np.ndarray):
    s = 0.0
    per = 0.0
    n = len(h)
    for i in range(n):
        x1, y1 = h[i]
        x2, y2 = h[(i + 1) % n]
        s += x1 * y2 - x2 * y1
        per += math.hypot(x2 - x1, y2 - y1)
    return abs(s) / 2.0, per


def _gt_hull(exp_dir: str, geo_dir: str):
    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, x, y FROM read_parquet(?) WHERE inside "
        "ORDER BY doc_id", [os.path.join(geo_dir,
                                         "oracle_pixels.parquet")]
    ).fetchall()
    by_doc: dict = {}
    for doc_id, x, y in rows:
        by_doc.setdefault(doc_id, []).append((x, y))
    out = {"doc_id": [], "n_points": [], "n_hull": [],
           "hull_area": [], "hull_perimeter": []}
    for doc_id, plist in by_doc.items():
        raw = np.array(plist, dtype=np.float64)
        pts = np.unique(raw, axis=0)
        out["doc_id"].append(doc_id)
        out["n_points"].append(len(raw))
        if len(pts) < 3:
            out["n_hull"].append(len(pts))
            out["hull_area"].append(0.0)
            out["hull_perimeter"].append(0.0)
            continue
        h = _jarvis_hull(pts)
        area, per = _ring_area_perimeter(h)
        out["n_hull"].append(len(h))
        out["hull_area"].append(round(area, 6) + 0.0)
        out["hull_perimeter"].append(round(per, 6) + 0.0)
    pq.write_table(pa.table({
        "doc_id": pa.array(out["doc_id"], pa.string()),
        "n_points": pa.array(out["n_points"], pa.int64()),
        "n_hull": pa.array(out["n_hull"], pa.int64()),
        "hull_area": pa.array(out["hull_area"], pa.float64()),
        "hull_perimeter": pa.array(out["hull_perimeter"], pa.float64()),
    }), os.path.join(exp_dir, "geo_hull.parquet"))


def _aoi_ring(n_k: int):
    """The deterministic noisy-circle AOI rings the simplify/clip
    queries synthesize per scene (identical arithmetic to the SQL
    `transform(sequence(...))` expression in __spark_entry__)."""
    pts = []
    for k in range(n_k):
        kk = k % 120
        r = 900.0 + 80.0 * math.cos(12.0 * kk * 0.05236)
        pts.append((4000.0 + r * math.cos(kk * 0.05236),
                    4000.0 + r * math.sin(kk * 0.05236)))
    return pts


def _seg_dist2(px, py, x0, y0, x1, y1):
    dx, dy = x1 - x0, y1 - y0
    seg2 = dx * dx + dy * dy
    if seg2 == 0.0:
        return (px - x0) ** 2 + (py - y0) ** 2
    t = ((px - x0) * dx + (py - y0) * dy) / seg2
    t = 0.0 if t < 0.0 else (1.0 if t > 1.0 else t)
    return (px - (x0 + t * dx)) ** 2 + (py - (y0 + t * dy)) ** 2


def _rdp_keep(xs, ys, i0, i1, keep, tol2):
    if i1 <= i0 + 1:
        return
    best, best_d2 = -1, -1.0
    for i in range(i0 + 1, i1):
        d2 = _seg_dist2(xs[i], ys[i], xs[i0], ys[i0], xs[i1], ys[i1])
        if d2 > best_d2:
            best, best_d2 = i, d2
    if best_d2 > tol2:
        keep[best] = True
        _rdp_keep(xs, ys, i0, best, keep, tol2)
        _rdp_keep(xs, ys, best, i1, keep, tol2)


def _gt_simplify(exp_dir: str, geo_dir: str, tolerance: float = 12.0):
    import duckdb
    con = duckdb.connect()
    doc_ids = [r[0] for r in con.execute(
        "SELECT doc_id FROM read_parquet(?) ORDER BY doc_id",
        [os.path.join(geo_dir, "scenes.parquet")]).fetchall()]
    # query ring: sequence(0, 120) inclusive -> 121 points, closed
    ring = _aoi_ring(121)
    pts = ring[:-1] if ring[0] == ring[-1] else ring
    xs = [p[0] for p in pts] + [pts[0][0]]
    ys = [p[1] for p in pts] + [pts[0][1]]
    keep = [False] * len(xs)
    keep[0] = keep[-1] = True
    _rdp_keep(xs, ys, 0, len(xs) - 1, keep, tolerance * tolerance)
    kept = sum(1 for i in range(len(pts)) if keep[i])
    n_after = kept + 1 if ring[0] == ring[-1] else kept
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "n_before": pa.array([len(ring)] * len(doc_ids), pa.int32()),
        "n_after": pa.array([n_after] * len(doc_ids), pa.int32()),
    }), os.path.join(exp_dir, "geo_simplify.parquet"))


def _sh_clip(pts, window):
    """Sutherland-Hodgman against a convex CCW window (plain
    re-derivation; same inside-on-boundary >= 0 convention)."""
    out = list(pts)
    m = len(window)
    for i in range(m):
        if not out:
            return []
        ax, ay = window[i]
        bx, by = window[(i + 1) % m]
        ex, ey = bx - ax, by - ay
        nxt = []
        k = len(out)
        for j in range(k):
            px, py = out[j]
            qx, qy = out[(j + 1) % k]
            pin = ex * (py - ay) - ey * (px - ax) >= 0
            qin = ex * (qy - ay) - ey * (qx - ax) >= 0
            if pin:
                nxt.append((px, py))
            if pin != qin:
                denom = ex * (qy - py) - ey * (qx - px)
                if denom != 0.0:
                    t = (ey * (px - ax) - ex * (py - ay)) / denom
                    t = min(1.0, max(0.0, t))
                    nxt.append((px + t * (qx - px), py + t * (qy - py)))
        out = nxt
    return out


def _poly_area(pts):
    n = len(pts)
    if n < 3:
        return 0.0
    s = 0.0
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def _gt_clip(exp_dir: str, geo_dir: str):
    import duckdb
    con = duckdb.connect()
    doc_ids = [r[0] for r in con.execute(
        "SELECT doc_id FROM read_parquet(?) ORDER BY doc_id",
        [os.path.join(geo_dir, "scenes.parquet")]).fetchall()]
    window = [(3400.0, 3400.0), (4600.0, 3400.0), (4600.0, 4600.0),
              (3400.0, 4600.0)]
    pts = _aoi_ring(120)  # sequence(0, 119): open ring
    cl = _sh_clip(pts, window)
    n_in, a_in = len(pts), round(_poly_area(pts), 6) + 0.0
    n_out, a_out = len(cl), round(_poly_area(cl), 6) + 0.0
    k = len(doc_ids)
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "n_in": pa.array([n_in] * k, pa.int32()),
        "area_in": pa.array([a_in] * k, pa.float64()),
        "n_out": pa.array([n_out] * k, pa.int32()),
        "area_out": pa.array([a_out] * k, pa.float64()),
    }), os.path.join(exp_dir, "geo_clip.parquet"))


# ---------------------------------------------------------------------------
# kriging (brute-force neighbor search + direct OK solve)
# ---------------------------------------------------------------------------

def _gt_kriging(exp_dir: str, geo_dir: str, k: int = 8,
                radius: float = 800.0, nugget: float = 0.0,
                sill: float = 1.0, vrange: float = 1000.0):
    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        "SELECT cell, elevation FROM read_parquet(?) ORDER BY cell",
        [os.path.join(geo_dir, "dem.parquet")]).fetchall()
    cells = np.array([r[0] for r in rows], dtype=np.int64)
    elev = np.array([r[1] for r in rows], dtype=np.float64)
    cx = (cells % 4294967296).astype(np.float64) * 160.0 + 80.0
    cy = (cells // 4294967296).astype(np.float64) * 160.0 + 80.0
    is_t = cells % 5 == 0
    sx, sy, sv = cx[~is_t], cy[~is_t], elev[~is_t]
    sid = cells[~is_t]

    def gamma(h):
        return nugget + (sill - nugget) * (1.0 - np.exp(
            -3.0 * h / vrange))

    out = {"doc_id": [], "x": [], "y": [], "krig_pred": [],
           "krig_var": [], "n_used": []}
    for ci in np.nonzero(is_t)[0]:
        tx, ty = cx[ci], cy[ci]
        d2 = (sx - tx) ** 2 + (sy - ty) ** 2
        ok = d2 <= radius * radius
        idx = np.nonzero(ok)[0]
        order = np.lexsort((sid[idx], d2[idx]))
        nb = idx[order[:k]]
        m = len(nb)
        out["doc_id"].append(str(cells[ci]))
        out["x"].append(tx)
        out["y"].append(ty)
        out["n_used"].append(m)
        if m == 0:
            out["krig_pred"].append(float("nan"))
            out["krig_var"].append(float("nan"))
            continue
        nx, ny, nv = sx[nb], sy[nb], sv[nb]
        dmat = np.hypot(nx[:, None] - nx[None, :],
                        ny[:, None] - ny[None, :])
        g = np.zeros((m + 1, m + 1))
        g[:m, :m] = gamma(dmat)
        np.fill_diagonal(g[:m, :m], 0.0)
        g[m, :m] = 1.0
        g[:m, m] = 1.0
        rhs = np.append(gamma(np.hypot(nx - tx, ny - ty)), 1.0)
        try:
            sol = np.linalg.solve(g, rhs)
        except np.linalg.LinAlgError:
            sol = np.linalg.lstsq(g, rhs, rcond=None)[0]
        w = sol[:m]
        out["krig_pred"].append(round(float(w @ nv), 6) + 0.0)
        out["krig_var"].append(
            round(float(max(0.0, w @ rhs[:m] + sol[m])), 6) + 0.0)
    pq.write_table(pa.table({
        "doc_id": pa.array(out["doc_id"], pa.string()),
        "x": pa.array(out["x"], pa.float64()),
        "y": pa.array(out["y"], pa.float64()),
        "krig_pred": pa.array(out["krig_pred"], pa.float64()),
        "krig_var": pa.array(out["krig_var"], pa.float64()),
        "n_used": pa.array(out["n_used"], pa.int32()),
    }), os.path.join(exp_dir, "geo_kriging.parquet"))


# ---------------------------------------------------------------------------
# isotonic calibration (minimax closed form)
# ---------------------------------------------------------------------------

def _gt_isotonic(exp_dir: str, sf_dir: str):
    import duckdb
    con = duckdb.connect()
    # Spark evaluates the score expression in DECIMAL (numeric literals
    # parse as decimals) and casts the EXACT value to double at the
    # end; double-arithmetic replays differ in the last ulp
    # (0.015 * 0.7 = 0.010499999999999999 != double("0.0105")). The
    # score is exactly (7k + 3000y) / 10000 with k = the hash bucket,
    # so group by (k, y) and materialize that rational as a double —
    # bit-identical to Spark's decimal->double conversion.
    hist = con.execute(f"""
        SELECT (doc_id * 1103515245 + 12345) % 1000 AS k,
               {LABEL_SQL} AS y, CAST(COUNT(*) AS DOUBLE) AS n
        FROM read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')
        GROUP BY k, y ORDER BY k, y""").fetchall()
    s = np.array([(7 * int(k) + 3000 * int(y)) / 10000.0
                  for k, y, _n in hist])
    n = np.array([float(cnt) for _k, _y, cnt in hist])
    ysum = np.array([float(y) * float(cnt) for _k, y, cnt in hist])
    order = np.argsort(s)
    s, n, ysum = s[order], n[order], ysum[order]
    m = len(s)
    # minimax closed form of isotonic regression:
    #   cal_i = max_{j<=i} min_{k>=i} mean(y[j..k])
    # O(m^2) over the score alphabet — independent of any pooling
    # order the engine's PAV uses.
    W = np.concatenate([[0.0], np.cumsum(n)])
    S = np.concatenate([[0.0], np.cumsum(ysum)])

    # minv[j, i] = min over k >= i of mean(j..k), computed by suffix
    # scan per j; then cal_i = max over j <= i of minv[j, i]
    cal = np.full(m, -np.inf)
    for j in range(m):
        run = np.inf
        mins = np.empty(m - j)
        for kk in range(m - 1, j - 1, -1):
            mean = (S[kk + 1] - S[j]) / (W[kk + 1] - W[j])
            run = min(run, mean)
            mins[kk - j] = run
        # cal_i candidate for i >= j is mins[i - j]
        for i in range(j, m):
            if mins[i - j] > cal[i]:
                cal[i] = mins[i - j]
    pq.write_table(pa.table({
        "score": pa.array(s, pa.float64()),
        "n": pa.array(n.astype(np.int64), pa.int64()),
        "rate": pa.array([round(float(v), 6) + 0.0
                          for v in ysum / n], pa.float64()),
        "calibrated": pa.array([round(float(v), 6) + 0.0 for v in cal],
                               pa.float64()),
    }), os.path.join(exp_dir, "docs_isotonic.parquet"))


# ---------------------------------------------------------------------------
# DTW (full-matrix DP with Sakoe-Chiba band mask)
# ---------------------------------------------------------------------------

def _gt_dtw(exp_dir: str, sf_dir: str, band: int = 6):
    import duckdb
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT event_type AS key, date_trunc('hour', ts) AS t,
               AVG(value) AS v
        FROM read_parquet('{os.path.join(sf_dir, 'events.parquet')}')
        GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    series: dict = {}
    for key, _t, v in rows:
        series.setdefault(key, []).append(float(v))
    keys = sorted(series)
    out = {"key_a": [], "key_b": [], "n_a": [], "n_b": [], "dtw": []}
    for ia in range(len(keys)):
        for ib in range(ia + 1, len(keys)):
            x = np.array(series[keys[ia]])
            y = np.array(series[keys[ib]])
            n, m = len(x), len(y)
            w = max(band, abs(n - m))
            D = np.full((n + 1, m + 1), np.inf)
            D[0, 0] = 0.0
            for i in range(1, n + 1):
                for j in range(max(1, i - w), min(m, i + w) + 1):
                    D[i, j] = abs(x[i - 1] - y[j - 1]) + min(
                        D[i - 1, j], D[i - 1, j - 1], D[i, j - 1])
            out["key_a"].append(keys[ia])
            out["key_b"].append(keys[ib])
            out["n_a"].append(n)
            out["n_b"].append(m)
            out["dtw"].append(round(float(D[n, m]), 6) + 0.0)
    pq.write_table(pa.table({
        "key_a": pa.array(out["key_a"], pa.string()),
        "key_b": pa.array(out["key_b"], pa.string()),
        "n_a": pa.array(out["n_a"], pa.int32()),
        "n_b": pa.array(out["n_b"], pa.int32()),
        "dtw": pa.array(out["dtw"], pa.float64()),
    }), os.path.join(exp_dir, "events_dtw.parquet"))


# ---------------------------------------------------------------------------
# logistic regression (dense matrix IRLS)
# ---------------------------------------------------------------------------

def _gt_logistic(exp_dir: str, sf_dir: str, iters: int = 8,
                 ridge: float = 1e-8):
    import duckdb
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT CAST({LABEL_SQL} AS DOUBLE) AS y,
               CAST({SCORE_SQL} AS DOUBLE) AS x1,
               CAST(n_chars / 1000.0 AS DOUBLE) AS x2
        FROM read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')
        WHERE {LABEL_SQL} IS NOT NULL""").fetchall()
    y = np.array([r[0] for r in rows])
    X = np.column_stack([np.ones(len(rows)),
                         np.array([r[1] for r in rows]),
                         np.array([r[2] for r in rows])])
    d = X.shape[1]
    beta = np.zeros(d)
    H = None
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ beta)))
        wt = p * (1.0 - p)
        H = (X * wt[:, None]).T @ X + np.eye(d) * ridge
        g = X.T @ (y - p)
        beta = beta + np.linalg.solve(H, g)
    cov = np.linalg.inv(H)
    ses = np.sqrt(np.diag(cov))
    names = ["intercept", "x1", "x2"]
    feats, coefs, se_l, z_l, p_l = [], [], [], [], []
    for i in range(d):
        feats.append(names[i])
        coefs.append(round(float(beta[i]), 6) + 0.0)
        se_l.append(round(float(ses[i]), 6) + 0.0)
        if ses[i] > 0:
            z = float(beta[i] / ses[i])
            z_l.append(round(z, 6) + 0.0)
            p_l.append(round(math.erfc(abs(z) / math.sqrt(2.0)), 6)
                       + 0.0)
        else:
            z_l.append(None)
            p_l.append(None)
    pq.write_table(pa.table({
        "feature": pa.array(feats, pa.string()),
        "coef": pa.array(coefs, pa.float64()),
        "se": pa.array(se_l, pa.float64()),
        "z": pa.array(z_l, pa.float64()),
        "p_approx": pa.array(p_l, pa.float64()),
    }), os.path.join(exp_dir, "docs_logistic.parquet"))


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def ensure_groundtruth(tag: str, sf_dir: str) -> str:
    """Generate (once per GT_VERSION) the expected-output parquet for
    the seven formerly rows-only queries. Returns the directory."""
    geo_dir = ensure_geodata(tag)
    exp_dir = os.path.join(geodata_dir(tag), "expected")
    marker = os.path.join(exp_dir, f"_COMPLETE_v{GT_VERSION}")
    if os.path.exists(marker):
        return exp_dir
    os.makedirs(exp_dir, exist_ok=True)
    _gt_hull(exp_dir, geo_dir)
    _gt_simplify(exp_dir, geo_dir)
    _gt_clip(exp_dir, geo_dir)
    _gt_kriging(exp_dir, geo_dir)
    _gt_isotonic(exp_dir, sf_dir)
    _gt_dtw(exp_dir, sf_dir)
    _gt_logistic(exp_dir, sf_dir)
    with open(marker, "w") as f:
        f.write("ok")
    return exp_dir
