"""Pure-NumPy planar geometry: point-in-polygon, cell grid, polygon cell
cover, WGS84 transverse-Mercator projection, and GeoJSON/WKT parsing.

This is the engine's replacement for the reference's shapely/pyproj/rasterio
stack (vector.py:17-98, raster.py:21-89). Everything is vectorized NumPy so
it can run inside Arrow-batched pandas UDFs with no per-row Python.

Geometry representation: a "polygon" is a list of rings; each ring is an
(N, 2) float64 ndarray of (x, y) vertices (closed or open — the code closes
them). A MultiPolygon is simply more rings: containment uses the even-odd
rule, which makes holes and multiple shells compose uniformly. This matches
the reference's rasterio ``mask(all_touched=False)`` semantics: a pixel
belongs to the AOI iff its *center* is inside (raster.py:43-54).
"""

from __future__ import annotations

import json
import math
from typing import Dict, List, Sequence, Tuple

import numpy as np

Ring = np.ndarray  # (N, 2)


# ---------------------------------------------------------------------------
# Parsing
# ---------------------------------------------------------------------------

def rings_from_geojson(geojson: str | dict) -> List[Ring]:
    """Parse a GeoJSON Polygon/MultiPolygon geometry into a flat ring list."""
    g = json.loads(geojson) if isinstance(geojson, str) else geojson
    if "geometry" in g:  # Feature
        g = g["geometry"]
    t = g["type"]
    if t == "Polygon":
        polys = [g["coordinates"]]
    elif t == "MultiPolygon":
        polys = g["coordinates"]
    else:
        raise ValueError(f"unsupported geometry type {t!r}")
    rings = []
    for poly in polys:
        for ring in poly:
            rings.append(np.asarray(ring, dtype=np.float64))
    return rings


def rings_to_geojson(rings: Sequence[Ring]) -> str:
    """Serialize rings as a GeoJSON MultiPolygon (each ring its own shell)."""
    coords = [[np.asarray(r, dtype=float).tolist()] for r in rings]
    return json.dumps({"type": "MultiPolygon", "coordinates": coords})


# ---------------------------------------------------------------------------
# Point-in-polygon (vectorized even-odd ray casting)
# ---------------------------------------------------------------------------

def points_in_rings(px: np.ndarray, py: np.ndarray, rings: Sequence[Ring]) -> np.ndarray:
    """Even-odd point-in-polygon test for many points against all rings.

    Vectorized over points; loops only over polygon edges (few). A point on
    an edge may land on either side — synthetic grids place pixel centers
    generically off edges, matching rasterio center-containment.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x1, y1 = r[:-1, 0], r[:-1, 1]
        x2, y2 = r[1:, 0], r[1:, 1]
        if not (r[0] == r[-1]).all():
            x1 = np.append(x1, r[-1, 0]); y1 = np.append(y1, r[-1, 1])
            x2 = np.append(x2, r[0, 0]); y2 = np.append(y2, r[0, 1])
        for i in range(len(x1)):
            ax, ay, bx, by = x1[i], y1[i], x2[i], y2[i]
            if ay == by:
                continue
            crosses = (ay > py) != (by > py)
            with np.errstate(invalid="ignore", divide="ignore"):
                xint = (bx - ax) * (py - ay) / (by - ay) + ax
            inside ^= crosses & (px < xint)
    return inside


def rings_bounds(rings: Sequence[Ring]) -> Tuple[float, float, float, float]:
    allv = np.vstack([np.asarray(r) for r in rings])
    return float(allv[:, 0].min()), float(allv[:, 1].min()), float(allv[:, 0].max()), float(allv[:, 1].max())


# ---------------------------------------------------------------------------
# Cell grid (the engine's H3/S2-style planar index)
# ---------------------------------------------------------------------------

def cell_id(x: np.ndarray, y: np.ndarray, cell_m: float) -> np.ndarray:
    """Pack planar coords into an int64 cell id: (iy << 32) | ix.

    Coordinates are UTM meters (non-negative in-zone), so 32 bits per axis
    is ample. The cell id is only meaningful together with the tile id
    (different UTM zones are different planes) — spatial joins key on
    (tileid, cell).
    """
    ix = np.floor(np.asarray(x, dtype=np.float64) / cell_m).astype(np.int64)
    iy = np.floor(np.asarray(y, dtype=np.float64) / cell_m).astype(np.int64)
    return (iy << np.int64(32)) | (ix & np.int64(0xFFFFFFFF))


def _segment_cells(ax: float, ay: float, bx: float, by: float, cell_m: float) -> set:
    """Exact set of grid cells traversed by segment a→b (Amanatides–Woo)."""
    cells = set()
    ix, iy = math.floor(ax / cell_m), math.floor(ay / cell_m)
    jx, jy = math.floor(bx / cell_m), math.floor(by / cell_m)
    cells.add((ix, iy))
    dx, dy = bx - ax, by - ay
    step_x = 1 if dx > 0 else -1
    step_y = 1 if dy > 0 else -1
    # parametric distance to first vertical / horizontal grid line
    if dx != 0:
        nx = (ix + (1 if dx > 0 else 0)) * cell_m
        t_max_x = (nx - ax) / dx
        t_dx = cell_m / abs(dx)
    else:
        t_max_x, t_dx = math.inf, math.inf
    if dy != 0:
        ny = (iy + (1 if dy > 0 else 0)) * cell_m
        t_max_y = (ny - ay) / dy
        t_dy = cell_m / abs(dy)
    else:
        t_max_y, t_dy = math.inf, math.inf
    guard = 0
    while (ix, iy) != (jx, jy) and guard < 10_000_000:
        guard += 1
        if t_max_x <= t_max_y:
            t_max_x += t_dx
            ix += step_x
        else:
            t_max_y += t_dy
            iy += step_y
        cells.add((ix, iy))
        if t_max_x > 1 and t_max_y > 1 and (ix, iy) == (jx, jy):
            break
    return cells


def polygon_cell_cover(rings: Sequence[Ring], cell_m: float) -> Dict[str, np.ndarray]:
    """Classify grid cells against a polygon.

    Returns dict with int64 arrays ``full`` (cell entirely inside) and
    ``partial`` (cell crossed by an edge → needs PIP refinement). A cell not
    listed is entirely outside. Exact: boundary cells come from exact
    segment-grid traversal; a non-boundary cell is uniformly inside/outside,
    decided by its center.
    """
    boundary: set = set()
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])
        for i in range(len(r) - 1):
            boundary |= _segment_cells(r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1], cell_m)

    xmin, ymin, xmax, ymax = rings_bounds(rings)
    ix0, ix1 = math.floor(xmin / cell_m), math.floor(xmax / cell_m)
    iy0, iy1 = math.floor(ymin / cell_m), math.floor(ymax / cell_m)
    ixs, iys = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1))
    ixs, iys = ixs.ravel(), iys.ravel()
    cx = (ixs + 0.5) * cell_m
    cy = (iys + 0.5) * cell_m
    center_in = points_in_rings(cx, cy, rings)
    bmask = np.fromiter(((x, y) in boundary for x, y in zip(ixs, iys)), dtype=bool, count=len(ixs))
    full = (iys[center_in & ~bmask].astype(np.int64) << np.int64(32)) | (
        ixs[center_in & ~bmask].astype(np.int64) & np.int64(0xFFFFFFFF))
    part = (iys[bmask].astype(np.int64) << np.int64(32)) | (
        ixs[bmask].astype(np.int64) & np.int64(0xFFFFFFFF))
    return {"full": np.sort(full), "partial": np.sort(part)}


# ---------------------------------------------------------------------------
# WGS84 transverse Mercator (EPSG:4326 lon/lat → UTM meters)
# ---------------------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_E2 = _WGS84_F * (2 - _WGS84_F)
_EP2 = _E2 / (1 - _E2)
_K0 = 0.9996


def utm_zone(lon: float) -> int:
    return int(math.floor((lon + 180.0) / 6.0)) % 60 + 1


def lonlat_to_utm(lon: np.ndarray, lat: np.ndarray, zone: int) -> Tuple[np.ndarray, np.ndarray]:
    """Forward transverse-Mercator projection (Snyder series, ~mm accuracy).

    Replaces the reference's pyproj ``transform_crs`` (vector.py:17-43) for
    EPSG:4326 → EPSG:326xx, with no native dependency. Northern hemisphere
    (no false northing offset for south) — all reference AOIs are northern.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam = np.radians(lon)
    phi = np.radians(lat)
    lam0 = math.radians((zone - 1) * 6 - 180 + 3)

    sinp, cosp, tanp = np.sin(phi), np.cos(phi), np.tan(phi)
    N = _WGS84_A / np.sqrt(1 - _E2 * sinp**2)
    T = tanp**2
    C = _EP2 * cosp**2
    A = cosp * (lam - lam0)
    e2, e4, e6 = _E2, _E2**2, _E2**3
    M = _WGS84_A * (
        (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * np.sin(2 * phi)
        + (15 * e4 / 256 + 45 * e6 / 1024) * np.sin(4 * phi)
        - (35 * e6 / 3072) * np.sin(6 * phi)
    )
    x = _K0 * N * (A + (1 - T + C) * A**3 / 6
                   + (5 - 18 * T + T**2 + 72 * C - 58 * _EP2) * A**5 / 120) + 500000.0
    y = _K0 * (M + N * tanp * (A**2 / 2
               + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
               + (61 - 58 * T + T**2 + 600 * C - 330 * _EP2) * A**6 / 720))
    return x, y


def project_rings_to_utm(rings_lonlat: Sequence[Ring], zone: int) -> List[Ring]:
    out = []
    for r in rings_lonlat:
        r = np.asarray(r, dtype=np.float64)
        x, y = lonlat_to_utm(r[:, 0], r[:, 1], zone)
        out.append(np.column_stack([x, y]))
    return out
