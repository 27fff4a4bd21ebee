"""Property-based tests (hypothesis) for the pure driver-side kernels —
the invariants that crafted examples can miss: PIP implementation
agreement on random polygons, Douglas-Peucker contracts, hull geometry,
the NTILE bucket formula, the IEEE-ceil guard, and the haversine
longitude-window bound that ADVICE r3 showed a crafted test had missed.
All NumPy/stdlib — no SparkSession, so hundreds of examples run in
seconds."""

import math

import numpy as np
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from satellitetools_spark import groundtruth as GT
from satellitetools_spark.geometry import points_in_rings


# --------------------------------------------------------------- PIP

@st.composite
def _simple_polygon(draw):
    # star-shaped (hence simple) polygon: random radii on sorted angles
    n = draw(st.integers(min_value=3, max_value=12))
    angles = sorted(draw(st.lists(
        st.floats(0.0, 2 * math.pi - 1e-3), min_size=n, max_size=n,
        unique=True)))
    radii = draw(st.lists(st.floats(0.5, 10.0), min_size=n, max_size=n))
    cx = draw(st.floats(-5.0, 5.0))
    cy = draw(st.floats(-5.0, 5.0))
    # grid-snap: fixture coordinates are meter-scale pixel centers, not
    # subnormals — snapping kills measure-zero fp degeneracies while
    # keeping the geometry arbitrary
    ring = [(round(cx + r * math.cos(a), 3),
             round(cy + r * math.sin(a), 3))
            for a, r in zip(angles, radii)]
    ring.append(ring[0])
    return ring


def _min_edge_dist(px, py, ring):
    d = np.inf
    for i in range(len(ring) - 1):
        ax, ay = ring[i]
        bx, by = ring[i + 1]
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        t = 0.0 if seg2 == 0 else max(
            0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / seg2))
        d = min(d, math.hypot(px - (ax + t * dx), py - (ay + t * dy)))
    return d


@settings(max_examples=200, deadline=None)
@given(_simple_polygon(),
       st.lists(st.tuples(st.floats(-20, 20), st.floats(-20, 20)),
                min_size=1, max_size=30))
def test_winding_pip_always_agrees_with_even_odd(ring, pts):
    # points ON an edge are unspecified (both implementations document
    # this; fixtures place centers generically off edges) — keep only
    # points clearly away from every edge
    pts = [(round(x, 3), round(y, 3)) for x, y in pts]
    pts = [(x, y) for x, y in pts if _min_edge_dist(x, y, ring) > 1e-6]
    assume(pts)
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    a = points_in_rings(px, py, [ring])
    b = GT.points_in_rings_winding(px, py, [ring])
    assert (a == b).all()


# ----------------------------------------------- Douglas-Peucker

@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.floats(-100, 100), st.floats(-100, 100)),
                min_size=4, max_size=40),
       st.floats(0.1, 20.0))
def test_rdp_keeps_endpoints_and_tolerance_contract(pts, tol):
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    keep = [False] * len(pts)
    keep[0] = keep[-1] = True
    GT._rdp_keep(xs, ys, 0, len(pts) - 1, keep, tol * tol)
    kept = [i for i in range(len(pts)) if keep[i]]
    assert kept[0] == 0 and kept[-1] == len(pts) - 1
    # every dropped vertex lies within tol of the simplified polyline
    for i in range(len(pts)):
        if keep[i]:
            continue
        j0 = max(k for k in kept if k < i)
        j1 = min(k for k in kept if k > i)
        d2 = GT._seg_dist2(xs[i], ys[i], xs[j0], ys[j0], xs[j1], ys[j1])
        assert d2 <= tol * tol + 1e-9


# ------------------------------------------------------ convex hull

@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.floats(-50, 50), st.floats(-50, 50)),
                min_size=3, max_size=60))
def test_jarvis_hull_is_convex_and_contains_all_points(pts):
    # grid-snap: hull inputs are pixel centers (meter grid), not
    # adversarial subnormals whose cross products underflow
    pts = [(round(x, 2), round(y, 2)) for x, y in pts]
    arr = np.unique(np.array(pts, dtype=np.float64), axis=0)
    if len(arr) < 3:
        return
    h = GT._jarvis_hull(arr)
    if len(h) < 3:
        # collinear degenerate: all points on the hull segment
        return
    # convexity: consistent turn direction around the ring (within fp)
    n = len(h)
    crosses = []
    for i in range(n):
        a, b, c = h[i], h[(i + 1) % n], h[(i + 2) % n]
        crosses.append((b[0] - a[0]) * (c[1] - a[1])
                       - (b[1] - a[1]) * (c[0] - a[0]))
    crosses = np.array(crosses)
    assert (crosses <= 1e-6).all() or (crosses >= -1e-6).all()
    # containment: every input point inside or on the hull
    for p in arr:
        sides = []
        for i in range(n):
            a, b = h[i], h[(i + 1) % n]
            sides.append((b[0] - a[0]) * (p[1] - a[1])
                         - (b[1] - a[1]) * (p[0] - a[0]))
        sides = np.array(sides)
        assert (sides <= 1e-6).all() or (sides >= -1e-6).all()


# ---------------------------------------------------- NTILE formula

@settings(max_examples=300, deadline=None)
@given(st.integers(1, 500), st.integers(1, 20))
def test_ntile_formula_matches_reference_definition(n, t):
    # SQL NTILE: first n % t buckets hold ceil(n/t) rows, rest floor
    base, rem = divmod(n, t)
    want = []
    for b in range(1, t + 1):
        want += [b] * ((base + 1) if b <= rem else base)
    want = want[:n]
    base_, rem_ = divmod(n, t)
    big = rem_ * (base_ + 1)
    got = []
    for i in range(1, n + 1):
        if i <= big:
            got.append((i - 1) // (base_ + 1) + 1)
        else:
            got.append(rem_ + (i - big - 1) // max(base_, 1) + 1)
    assert got == want


# ------------------------------------------- IEEE ceil guard (AllPairs)

@settings(max_examples=500, deadline=None)
@given(st.integers(1, 10_000),
       st.integers(1, 99))
def test_epsilon_ceil_recovers_decimal_ceiling(sz, t_pct):
    # threshold = t_pct / 100 exactly; the decimal ceiling of t*sz is
    # ceil(t_pct*sz / 100) in integers — the epsilon-guarded float ceil
    # must equal it even when the IEEE product rounds up across an
    # integer boundary (the 0.55 * 20 -> 11.000000000000002 class)
    t = t_pct / 100.0
    want = -((-t_pct * sz) // 100)  # integer ceiling
    got = math.ceil(t * sz - 1e-9)
    assert got == want


# ------------------------------------------------ Sutherland-Hodgman

@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.floats(-10, 10), st.floats(-10, 10)),
                min_size=3, max_size=25),
       st.floats(-8.0, 8.0), st.floats(-8.0, 8.0),
       st.floats(1.0, 12.0))
def test_sh_clip_area_bounds_and_idempotence(pts, wx, wy, half):
    # CONVEX subjects (hull of random points): Sutherland-Hodgman is
    # exact there (convex ∩ convex is connected); concave subjects with
    # DISCONNECTED intersections get degenerate bridging edges — a
    # documented S-H limitation, out of this property's contract
    pts = [(round(x, 2), round(y, 2)) for x, y in pts]
    arr = np.unique(np.array(pts, dtype=np.float64), axis=0)
    if len(arr) < 3:
        return
    h = GT._jarvis_hull(arr)
    if len(h) < 3:
        return
    subject = [(float(x), float(y)) for x, y in h]
    window = [(wx - half, wy - half), (wx + half, wy - half),
              (wx + half, wy + half), (wx - half, wy + half)]
    out = GT._sh_clip(subject, window)
    a_subj = GT._poly_area(subject)
    a_out = GT._poly_area(out)
    a_win = (2 * half) ** 2
    # intersection area can exceed neither operand (fp slack)
    assert a_out <= a_subj + 1e-6
    assert a_out <= a_win + 1e-6
    # clipping the clipped result again changes nothing (idempotence)
    out2 = GT._sh_clip(out, window)
    assert abs(GT._poly_area(out2) - a_out) <= 1e-6


# --------------------------------------------- CRS transform parity

@settings(max_examples=60, deadline=None)
@given(st.integers(1, 60), st.floats(-3.2, 3.2),
       st.floats(0.5, 80.0))
def test_tm_projection_snyder_vs_kruger_sub_mm(zone, dlon, lat):
    # two INDEPENDENT series formulations of the WGS84 transverse
    # Mercator — the engine's Snyder series vs the Karney/Krüger
    # conformal-latitude α-series — must agree to the engine's
    # documented ~mm accuracy anywhere in a UTM zone (northern
    # hemisphere, the fixture domain)
    from satellitetools_spark.geometry import lonlat_to_utm
    cm = (zone - 1) * 6 - 180 + 3
    lon = np.array([cm + dlon])
    la = np.array([lat])
    x1, y1 = lonlat_to_utm(lon, la, zone)
    x2, y2 = GT.lonlat_to_utm_kruger(lon, la, zone)
    assert math.hypot(x1[0] - x2[0], y1[0] - y2[0]) < 2e-3


# ------------------------------------------- polygon cell cover

@settings(max_examples=150, deadline=None)
@given(_simple_polygon(),
       st.lists(st.tuples(st.floats(-40, 40), st.floats(-40, 40)),
                min_size=1, max_size=20),
       st.sampled_from([2.0, 5.0, 10.0]))
def test_polygon_cell_cover_contains_every_inside_point(ring, pts,
                                                        cell):
    # completeness of the cover the cell join trusts: EVERY point
    # inside the polygon must fall in a full-or-partial cover cell —
    # a missed boundary cell would silently drop its pixels before
    # the PIP refinement ever runs
    from satellitetools_spark import geometry as G
    cover = G.polygon_cell_cover([ring], cell)
    cells = set(cover["full"].tolist()) | set(cover["partial"].tolist())
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    inside = G.points_in_rings(px, py, [ring])
    ids = G.cell_id(px, py, cell)
    for i in range(len(pts)):
        if inside[i]:
            assert int(ids[i]) in cells


# --------------------------------------- planar cell banding slack

@settings(max_examples=2000, deadline=None)
@given(st.floats(-1e7, 1e7), st.floats(1.0, 5000.0),
       st.floats(10.0, 2000.0), st.floats(0.0, 1.0))
def test_distance_join_cell_cover_never_drops_within_radius(
        sx, radius, cell, frac):
    # replicate the operator's arithmetic: station cell ± r_cells must
    # cover every point within the radius, including exact-boundary
    # coordinates where fp division rounds the two floors apart —
    # without the +1 slack ring this fails (e.g. sx=-1e-38, x=radius,
    # radius == cell)
    dx = frac * radius
    r_cells = int(math.ceil(radius / cell)) + 1
    for x in (sx + dx, sx - dx):
        d = math.floor(x / cell) - math.floor(sx / cell)
        assert -r_cells <= d <= r_cells


# --------------------------------------- haversine longitude window

@settings(max_examples=400, deadline=None)
@given(st.floats(-84.0, 84.0),       # station latitude
       st.floats(10.0, 500.0),       # radius km
       st.floats(0.0, 1.0),          # fraction of radius
       st.floats(0.0, 2 * math.pi))  # bearing
def test_haversine_lon_window_never_drops_within_radius_pairs(
        slat, radius_km, frac, bearing):
    # place a point at distance frac*radius on an arbitrary bearing
    # from the station; replicate the operator's banded pre-filters and
    # assert the pair always survives them (the exact haversine filter
    # afterwards makes over-width harmless — only drops are bugs)
    R = 6371.0088
    d = frac * radius_km / R
    lat1 = math.radians(slat)
    lat2 = math.asin(math.sin(lat1) * math.cos(d)
                     + math.cos(lat1) * math.sin(d) * math.cos(bearing))
    dlon = math.atan2(
        math.sin(bearing) * math.sin(d) * math.cos(lat1),
        math.cos(d) - math.sin(lat1) * math.sin(lat2))
    plat = math.degrees(lat2)
    if abs(plat) > 89.0:
        return  # clamp region; covered by the crafted near-pole test
    ddeg = radius_km / 111.1950802335329
    # latitude band filter: station explodes into bands b-1, b, b+1;
    # band height carries the operator's 0.1% slack so an exact-radius
    # pair straddling two band edges still lands within ±1
    bs = ddeg * 1.001
    sband = math.floor(slat / bs)
    pband = math.floor(plat / bs)
    assert pband in (sband - 1, sband, sband + 1)
    # longitude window (the r4 band-min-cosine form)
    band_lat = min(89.9, abs(slat) + ddeg)
    lon_w = (ddeg * 1.01
             / max(math.cos(math.radians(band_lat)), 0.01))
    dl = abs(math.degrees(dlon))
    dl = min(dl, 360.0 - dl)
    assert dl <= lon_w + 1e-9
