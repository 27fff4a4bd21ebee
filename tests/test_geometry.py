"""Geometry unit tests: PIP, cell cover, UTM projection."""

import math

import numpy as np

from satellitetools_spark import geometry as G

SQUARE = [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])]
# square with a square hole (even-odd rule)
HOLED = SQUARE + [np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]])]


def test_pip_square():
    px = np.array([5.0, -1.0, 10.5, 9.99, 0.01])
    py = np.array([5.0, 5.0, 5.0, 9.99, 0.01])
    got = G.points_in_rings(px, py, SQUARE)
    assert got.tolist() == [True, False, False, True, True]


def test_pip_hole_even_odd():
    px = np.array([5.0, 3.0, 6.5])
    py = np.array([5.0, 5.0, 5.0])
    got = G.points_in_rings(px, py, HOLED)
    assert got.tolist() == [False, True, True]


def test_pip_matches_bruteforce_random_polygon():
    rng = np.random.default_rng(7)
    # random star-shaped polygon around (50, 50)
    angles = np.sort(rng.uniform(0, 2 * math.pi, 17))
    radii = rng.uniform(5, 30, 17)
    ring = np.column_stack([50 + radii * np.cos(angles), 50 + radii * np.sin(angles)])
    ring = np.vstack([ring, ring[:1]])
    px = rng.uniform(0, 100, 2000)
    py = rng.uniform(0, 100, 2000)
    got = G.points_in_rings(px, py, [ring])
    # brute force with matplotlib-free winding check: same algorithm but
    # scalar loop (independent implementation path)
    want = np.zeros(len(px), dtype=bool)
    for k in range(len(px)):
        c = False
        for i in range(len(ring) - 1):
            x1, y1 = ring[i]
            x2, y2 = ring[i + 1]
            if (y1 > py[k]) != (y2 > py[k]):
                if px[k] < (x2 - x1) * (py[k] - y1) / (y2 - y1) + x1:
                    c = not c
        want[k] = c
    assert (got == want).all()


def test_cell_cover_classification_exact():
    cover = G.polygon_cell_cover(SQUARE, cell_m=2.0)
    full, partial = set(cover["full"].tolist()), set(cover["partial"].tolist())
    assert full.isdisjoint(partial)
    # every point of a 'full' cell must be inside; partial cells straddle
    rng = np.random.default_rng(3)
    for cid in list(full)[:10]:
        iy, ix = cid >> 32, np.int64(np.uint32(cid & 0xFFFFFFFF)).astype(np.int64)
        xs = rng.uniform(ix * 2.0, (ix + 1) * 2.0, 50)
        ys = rng.uniform(iy * 2.0, (iy + 1) * 2.0, 50)
        assert G.points_in_rings(xs, ys, SQUARE).all()
    # edges lie exactly on grid lines x,y ∈ {0,10}: boundary lands in
    # rows/cols 0 and 5, interior 4x4 block (ix,iy ∈ 1..4) is full
    assert len(full) == 16
    assert len(partial) == 20


def test_cell_id_roundtrip_consistency():
    x = np.array([0.0, 159.9, 160.0, 12345.6])
    y = np.array([0.0, 159.9, 320.0, 99999.9])
    cid = G.cell_id(x, y, 160.0)
    assert cid.dtype == np.int64
    assert cid[0] == 0
    assert cid[1] == 0
    assert cid[2] == (2 << 32) | 1


def test_utm_projection_known_points():
    # Central meridian at the equator → (500000, 0) exactly.
    x, y = G.lonlat_to_utm(np.array([21.0]), np.array([0.0]), 34)
    assert abs(x[0] - 500_000.0) < 1e-6 and abs(y[0]) < 1e-6
    # Classic check: 1° east of the CM at the equator ≈ 611,280 m easting.
    x, y = G.lonlat_to_utm(np.array([22.0]), np.array([0.0]), 34)
    assert abs(x[0] - 611_280) < 30
    # Local lon scale at 60.294N ≈ 111320·cos(lat)·k0-ish per degree.
    x1, _ = G.lonlat_to_utm(np.array([22.391]), np.array([60.294]), 34)
    x2, _ = G.lonlat_to_utm(np.array([22.392]), np.array([60.294]), 34)
    assert abs((x2[0] - x1[0]) - 55.2) < 0.5


def test_project_rings_preserves_shape():
    ring = np.array([[22.39, 60.29], [22.40, 60.29], [22.40, 60.30], [22.39, 60.29]])
    out = G.project_rings_to_utm([ring], 34)
    assert out[0].shape == ring.shape
    assert np.isfinite(out[0]).all()


def test_geojson_roundtrip():
    gj = G.rings_to_geojson(SQUARE)
    rings = G.rings_from_geojson(gj)
    assert len(rings) == 1
    np.testing.assert_allclose(rings[0], SQUARE[0])
